"""Similarity search over embedding columns (array<float>).

Two paths:

- brute-force top-k: queries broadcast against the full index — exact,
  O(|Q|·|N|·d) but embarrassingly parallel (the index never shuffles;
  each partition scores its slice and keeps a local top-k via the ranking
  window / TakeOrdered).
- IVF-style cell-probed top-k: vectors are assigned to their best anchor
  (inner product); a query probes only its own cell — the classic
  coarse-quantization trade (recall vs candidates scanned). Anchors are
  broadcast; assignment is a narrow map + argmax, no shuffle of the index
  beyond the final per-cell ranking.

Scoring has two implementations:
- ``*_fast``: zip_with/aggregate on doubles — JVM codegen, the production
  hot path.
- exact-decimal scoring (used by the oracle-checked queries): per-element
  decimal products summed exactly, so Spark and DuckDB produce
  bit-identical doubles (see functions/exact.py for why).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_fast(a: Column, b: Column) -> Column:
    """Inner product in double — codegen'd zip_with + aggregate fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_fast(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk_fast(
    queries: DataFrame,
    index: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    vec_id: str = "vec_id",
    emb: str = "embedding",
    rank_quantize: float | None = None,
) -> DataFrame:
    """Brute-force cosine top-k, fast path: broadcast queries × index.

    Plan shape: BroadcastNestedLoopJoin (queries are small by contract)
    → narrow scoring map → per-query ranking window. The index side is
    scanned once, never shuffled for the join.

    ``rank_quantize=S`` ranks by ``floor(cos·S + 0.5)`` (ties broken by
    id) instead of the raw double — scores within 1/S of each other tie
    deterministically, shrinking the window in which engine-specific
    last-ulp fold rounding can flip the compared order from "any near
    tie" to "a bucket boundary landing inside the engines' ulp
    difference" (~1e-15/1e-9 per pair — vanishingly unlikely, though
    not strictly impossible; the rank-only oracle contract of
    ann_cosine_topk_fast)."""
    q = F.broadcast(
        queries.select(F.col(q_id), F.col(emb).alias("q_emb"))
    )
    scored = index.select(F.col(vec_id), F.col(emb)).crossJoin(q).filter(
        F.col(vec_id) != F.col(q_id)
    )
    cos = dot_fast(F.col("q_emb"), F.col(emb)) / (
        norm_fast(F.col("q_emb")) * norm_fast(F.col(emb))
    )
    if rank_quantize is not None:
        rank_key = F.floor(
            F.col("cosine") * F.lit(float(rank_quantize)) + F.lit(0.5)
        ).cast("long")
    else:
        rank_key = F.col("cosine")
    w = Window.partitionBy(q_id).orderBy(rank_key.desc(), F.col(vec_id))
    return (
        scored.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(q_id, F.col(vec_id).alias("neighbor_id"), "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# exact-decimal scoring (oracle-reproducible)
# ---------------------------------------------------------------------------


def exploded_components(df: DataFrame, id_col: str, emb: str = "embedding",
                        out_val: str = "x") -> DataFrame:
    """(id, dim, component) rows; dim is 1-based to match SQL unnest."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.col(emb)).alias("pos", out_val),
    ).select(F.col(id_col), (F.col("pos") + 1).alias("dim"), F.col(out_val))


# Component quantization scale: 1e7 ≈ float32's own precision. Scores are
# computed on int64-quantized components so every engine gets bit-identical
# results. Decimal casts are NOT portable here: engines disagree on
# round-half ties for dyadic float values (half-up vs half-even) and on
# decimal downscale (DuckDB truncates); an explicit floor(x*S + 0.5) is the
# same IEEE op sequence everywhere.
QSCALE = 10_000_000  # 1e7
QSCALE2 = float(QSCALE) * float(QSCALE)  # exact power of ten < 2^53


def quantize(x: Column) -> Column:
    """float component → int64 at 7 dp via explicit half-up rounding."""
    return F.floor(x.cast("double") * F.lit(float(QSCALE)) + F.lit(0.5)).cast("long")


def exact_dot(
    a: DataFrame, b: DataFrame, a_id: str, b_id: str,
    exclude_self: bool = True,
) -> DataFrame:
    """Engine-exact inner product: int64 sum of quantized products,
    converted to double once at the end (values < 2^53 → exact).
    ``a`` must be the small side (queries): it is broadcast, so the
    64-distinct-key dim join never shuffles the index; the aggregation
    shuffles once on (a_id, b_id)."""
    j = b.join(F.broadcast(a), "dim")
    if exclude_self:
        j = j.filter(F.col(a_id) != F.col(b_id))
    prod = quantize(F.col("qx")) * quantize(F.col("x"))
    return j.groupBy(a_id, b_id).agg(
        (F.sum(prod).cast("double") / F.lit(QSCALE2)).alias("dot")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (sign-LSH blocked)
# ---------------------------------------------------------------------------


def quantized_embedding(emb: Column) -> Column:
    """array<float> → array<long> at 7 dp (engine-exact, see quantize)."""
    return F.transform(emb, lambda x: quantize(x))


def sign_bands(
    df: DataFrame,
    id_col: str = "vec_id",
    emb: str = "embedding",
    bands: int = 4,
    bits: int = 4,
) -> DataFrame:
    """Random-hyperplane LSH with axis-aligned planes: the bucket key of
    band b is the sign pattern of components [b·bits, (b+1)·bits). Two
    vectors at high cosine agree on most signs, so they collide in ≥1
    band with high probability; candidate generation is an equi-join on
    (band, bucket) — never all-pairs. At corpus scale, bands/bits tune
    the recall-vs-candidates trade exactly like MinHash banding.

    Also carries ``sig`` — the full bands·bits sign signature — so the
    candidate join can dedup multi-band collisions with a first-matching-
    band filter instead of a distinct() shuffle."""
    entries = []
    sig = F.lit(0)
    for b in range(bands):
        bv = F.lit(0)
        for r in range(bits):
            bv = bv + F.when(
                F.col(emb).getItem(b * bits + r) > 0, F.lit(1 << r)
            ).otherwise(F.lit(0))
        sig = sig + F.shiftleft(bv, b * bits)
        entries.append(F.struct(F.lit(b).alias("band"), bv.alias("bv")))
    return df.select(
        F.col(id_col), sig.alias("sig"), F.explode(F.array(*entries)).alias("e")
    ).select(F.col(id_col), "sig", "e.band", "e.bv")


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    emb: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    sign-LSH bands → candidate equi-join → exact verification with the
    int64-quantized dot/norms (bit-identical to the DuckDB oracle). The
    verification dot product is a codegen'd zip_with fold over the two
    quantized arrays carried through the join — per-candidate work is
    O(d) with no further shuffle after the bucket join."""
    # One feature projection per vector: (id, quantized components) —
    # candidates re-join it twice (standard LSH shape: band-join on ids
    # only, fetch features for the survivors).
    feat = df.select(
        F.col(id_col), quantized_embedding(F.col(emb)).alias("qe")
    )
    bands_df = sign_bands(df, id_col, emb)
    a = bands_df.select(
        F.col(id_col).alias("vec_a"), F.col("sig").alias("sig_a"), "band", "bv"
    )
    b = bands_df.select(
        F.col(id_col).alias("vec_b"), F.col("sig").alias("sig_b"), "band", "bv"
    )
    # Emit each colliding pair only from its lowest matching band (pure
    # filter on the carried signatures — no distinct() shuffle).
    first_match = F.lit(True)
    for j in range(4):
        earlier_differs = (
            F.shiftright(F.col("sig_a").bitwiseXOR(F.col("sig_b")), j * 4)
            .bitwiseAND(F.lit(15))
            != 0
        )
        first_match = first_match & ((F.col("band") <= j) | earlier_differs)
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(first_match)
        .select("vec_a", "vec_b")
    )
    fa = feat.select(F.col(id_col).alias("vec_a"), F.col("qe").alias("qe_a"))
    fb = feat.select(F.col(id_col).alias("vec_b"), F.col("qe").alias("qe_b"))
    wide = cand.join(fa, "vec_a").join(fb, "vec_b")
    return verify_cosine_pairs(wide, threshold)


def verify_cosine_pairs(wide: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, qe_a, qe_b) candidate rows → pairs with exact
    quantized cosine ≥ threshold, as (vec_a, vec_b, cosine).

    Arrow-batched numpy over the candidate pairs. The quantized math is
    int64 (associative → order-independent), so the vectorized batch sum
    is BIT-IDENTICAL to a sequential fold and to the SQL oracle — and
    ~30% faster than Spark's zip_with/aggregate, which interprets
    higher-order functions per row. Per-batch cost is one
    (n_pairs × dim) int64 elementwise product; no state, no shuffle
    beyond the feature joins that built ``wide``."""
    q2 = QSCALE2
    thr = float(threshold)

    def verify(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            qa = np.asarray(pdf["qe_a"].tolist(), dtype=np.int64)
            qb = np.asarray(pdf["qe_b"].tolist(), dtype=np.int64)
            dot = (qa * qb).sum(axis=1).astype(np.float64) / q2
            na = np.sqrt((qa * qa).sum(axis=1).astype(np.float64) / q2)
            nb = np.sqrt((qb * qb).sum(axis=1).astype(np.float64) / q2)
            cos = dot / (na * nb)
            keep = cos >= thr
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"][keep],
                    "vec_b": pdf["vec_b"][keep],
                    "cosine": cos[keep],
                }
            )

    return wide.mapInPandas(verify, "vec_a long, vec_b long, cosine double")


def norm2_from_components(
    comp: DataFrame, id_col: str, val_col: str = "x"
) -> DataFrame:
    """Squared norm per id from an exploded component relation (so the
    caller controls dim filtering — e.g. matryoshka prefixes)."""
    q = quantize(F.col(val_col))
    return comp.groupBy(id_col).agg(
        (F.sum(q * q).cast("double") / F.lit(QSCALE2)).alias("norm2")
    )


def exact_cosine_scores(
    qcomp: DataFrame,
    ccomp: DataFrame,
    q_id: str = "q_id",
    vec_id: str = "vec_id",
) -> DataFrame:
    """(q_id, vec_id, cosine) via the exact-decimal scorer, from
    component relations: dot = exact_dot (self-pairs excluded), norms
    from each side's own components. The ONE implementation of the
    cosine contract every exact ANN/mining query ranks over — callers
    add their own filters and the (cosine DESC, vec_id) tie-broken
    window."""
    d = exact_dot(qcomp, ccomp, q_id, vec_id)
    nq = norm2_from_components(
        qcomp.select(F.col(q_id), F.col("qx").alias("x")), q_id
    ).withColumnRenamed("norm2", "qn")
    nc = norm2_from_components(ccomp, vec_id).withColumnRenamed("norm2", "cn")
    return (
        d.join(F.broadcast(nq), q_id)
        .join(nc, vec_id)
        .select(
            q_id,
            vec_id,
            (F.col("dot") / (F.sqrt(F.col("qn")) * F.sqrt(F.col("cn")))).alias(
                "cosine"
            ),
        )
    )
