"""LLM-data-pipeline queries: dedup (exact / minhash-LSH / simhash /
n-gram Jaccard), similarity search (brute-force + IVF-probed),
text analysis (lang-ID / quality / tokens / fingerprints), multimodal
metadata. Every oracle recomputes the same md5-derived hashes / exact
decimal sums, so results are engine-identical. (One deliberate
variation: ann_cosine_topk_fast is the double-precision production path
and uses a RANK-ONLY oracle — each engine ranks its own double scores
and the neighbor order must match; a unit test pins the Spark fold
bit-exactly against a Python left-fold.)"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.functions.exact import dsum
from kinesis_log_watcher_spark.operators import text as T
from kinesis_log_watcher_spark.operators.dedup import (
    MINHASH_BANDS as _BANDS,
    MINHASH_NUM_HASHES as _NUM_HASHES,
    SIMHASH_BITS,
    connected_components,
    exact_dedup_groups,
    exploded_shingles,
    fingerprint_col,
    jaccard_pairs,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
    simhash_near_pairs,
    simhash_signatures,
)
from kinesis_log_watcher_spark.operators.multimodal import (
    fake_image_meta,
    frame_samples,
    image_metadata,
    with_binary_payload,
)
from kinesis_log_watcher_spark.operators.similarity import (
    embedding_near_dup_pairs,
    exact_cosine_scores,
    exact_dot,
    exploded_components,
    quantize,
)
from kinesis_log_watcher_spark.queries.base import (
    finalize_unpersist,
    load,
    register,
)

# Shared SQL fragments -------------------------------------------------------

# distinct 3-token shingles per doc (docs with ≥3 tokens)
_SH_SQL = """
  sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
           ))) AS shingle
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3)
"""

# ---------------------------------------------------------------------------
# dedup: exact + fingerprint
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS dedup_key,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_members
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content; canonical = min id.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, F.md5(F.col("text")))


@register(
    "dedup_fingerprint",
    """
    SELECT md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' '))
             AS dedup_key,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_members
    FROM documents
    GROUP BY 1
    """,
    doc="Order-insensitive fingerprint dedup (sorted token bag).",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, fingerprint_col(F.col("text")))


# ---------------------------------------------------------------------------
# dedup: n-gram Jaccard
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SH_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM pruned a JOIN pruned b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           (common / (sa.sz + sb.sz - common)) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE (common / (sa.sz + sb.sz - common)) >= 0.5
    """,
    doc="Near-dup pairs by 3-gram Jaccard ≥ 0.5 via inverted-index join "
    "with a doc-frequency cap (stop-shingle skew guard).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: shingle explode fan-out (~50x) is the map-side hot
    # path (measured 4.4 -> 3.1s at sf0.1, A/B r12).
    docs = load(spark, sf_dir, "documents", spread=True)
    # The shingle index feeds sizes, doc-frequency pruning, and both join
    # sides — materialize it once (at corpus scale this is "write the
    # inverted index, then query it"; MEMORY_AND_DISK spills safely).
    # hashed=True: 8-byte join keys instead of shingle strings.
    sh = exploded_shingles(docs, hashed=True).persist(StorageLevel.MEMORY_AND_DISK)
    return jaccard_pairs(sh, threshold=0.5, max_doc_freq=100)


# ---------------------------------------------------------------------------
# dedup: MinHash + LSH
# ---------------------------------------------------------------------------

# geometry imported with the other dedup operators at the top of the
# file — one definition shared with the streaming detector and oracle
_ROWS = _NUM_HASHES // _BANDS

_MINHASH_COLS = ",\n           ".join(
    f"MIN(md5('{k}|' || shingle)) AS m{k}" for k in range(_NUM_HASHES)
)
_BAND_SIGS = ",\n           ".join(
    "md5(" + " || '|' || ".join(f"m{b * _ROWS + r}" for r in range(_ROWS)) + f") AS b{b}"
    for b in range(_BANDS)
)
_BAND_UNION = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band, b{b} AS band_sig FROM sigs"
    for b in range(_BANDS)
)


_MINHASH_LSH_SQL = f"""
    WITH {_SH_SQL},
    mh AS (
      SELECT doc_id,
           {_MINHASH_COLS}
      FROM sh GROUP BY doc_id),
    sigs AS (
      SELECT doc_id,
           {_BAND_SIGS}
      FROM mh),
    bands AS (
{_BAND_UNION}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_bands FROM pairs
    """


@register(
    "dedup_minhash_lsh",
    _MINHASH_LSH_SQL,
    doc=f"MinHash({_NUM_HASHES} hashes) + LSH({_BANDS} bands): banded "
    "signature bucket-join candidates — never all-pairs. md5-based hashes "
    "make signatures engine-reproducible.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: the 16-md5 signature map side dominates; spreading
    # the scan measured 3.7 -> 1.2s at sf0.1 (A/B r12).
    docs = load(spark, sf_dir, "documents", spread=True)
    sh = exploded_shingles(docs)
    sig = minhash_signature(sh, _NUM_HASHES)
    # Signatures feed both sides of the band bucket-join — compute once.
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    bands = lsh_bands(sig, _NUM_HASHES, _BANDS)
    return lsh_candidate_pairs(bands)


# ---------------------------------------------------------------------------
# dedup: SimHash
# ---------------------------------------------------------------------------

_S_SUMS = ",\n           ".join(
    f"SUM((h >> {j}) & 1) AS s{j}" for j in range(SIMHASH_BITS)
)
_SIG_TERMS = "\n           + ".join(
    f"CASE WHEN 2 * s{j} > n THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
          FROM tok),
    s AS (SELECT doc_id, COUNT(*) AS n,
           {_S_SUMS}
          FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id,
           CAST({_SIG_TERMS} AS BIGINT) AS sig
          FROM s),
    bands AS (
      SELECT doc_id, sig, t.bd, (sig >> (15 * t.bd)) & 32767 AS bv
      FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) t(bd)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b ON a.bd = b.bd AND a.bv = b.bv
      WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 7
    """,
    doc="SimHash(60-bit) near-dup pairs, hamming ≤ 7, via 4×15-bit banded "
    "candidates (pigeonhole-exact for hamming ≤ 3).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Signatures (one 60-field aggregation over all tokens) feed both
    # sides of the band self-join — compute once.
    sigs = simhash_signatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    return simhash_near_pairs(sigs, max_hamming=7)


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_SH_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    p0 AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM pruned a JOIN pruned b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b
      FROM p0
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE (common / (sa.sz + sb.sz - common)) >= 0.5),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    cc AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.b AS node, cc.lbl FROM cc JOIN edges e ON e.a = cc.node)
    SELECT node AS doc_id, MIN(lbl) AS component,
           CAST(COUNT(*) OVER (PARTITION BY MIN(lbl)) AS BIGINT) AS cluster_size
    FROM cc GROUP BY node
    """,
    doc="Dedup clusters: connected components over the Jaccard≥0.5 "
    "near-dup graph via iterative min-label propagation (one join+agg "
    "per round, localCheckpoint between rounds; converges in O(diameter) "
    "— near-dup clusters are near-cliques). component = canonical "
    "survivor id. Oracle: DuckDB recursive CTE reachability.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: jaccard_pairs' shingle explode + inverted-index build
    # is ~half the query (measured 5.9 -> 4.9s at sf0.1, A/B r12).
    docs = load(spark, sf_dir, "documents", spread=True)
    sh = exploded_shingles(docs, hashed=True).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = jaccard_pairs(sh, threshold=0.5, max_doc_freq=100)
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# dedup: embedding-cosine near-dup
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_cosine",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings),
    n AS (
      SELECT vec_id,
             (CAST(list_sum(list_transform(qe, x -> x * x)) AS DOUBLE)
              / 100000000000000.0) AS norm2
      FROM q),
    bands AS (
      SELECT vec_id, t.bd,
             (CASE WHEN embedding[4 * t.bd + 1] > 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[4 * t.bd + 2] > 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[4 * t.bd + 3] > 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4 * t.bd + 4] > 0 THEN 8 ELSE 0 END) AS bv
      FROM embeddings CROSS JOIN (VALUES (0), (1), (2), (3)) t(bd)),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b ON a.bd = b.bd AND a.bv = b.bv
      WHERE a.vec_id < b.vec_id),
    dots AS (
      SELECT c.vec_a, c.vec_b,
             (CAST(list_sum(list_transform(list_zip(qa.qe, qb.qe),
                    p -> p[1] * p[2])) AS DOUBLE)
              / 100000000000000.0) AS dot
      FROM cand c
      JOIN q qa ON qa.vec_id = c.vec_a
      JOIN q qb ON qb.vec_id = c.vec_b)
    SELECT vec_a, vec_b,
           (dot / (sqrt(na.norm2) * sqrt(nb.norm2))) AS cosine
    FROM dots
    JOIN n na ON na.vec_id = vec_a
    JOIN n nb ON nb.vec_id = vec_b
    WHERE (dot / (sqrt(na.norm2) * sqrt(nb.norm2))) >= 0.35
    """,
    doc="Embedding-cosine near-dup pairs (cosine ≥ 0.35): sign-bit LSH "
    "bands (4×4 axis-aligned hyperplanes) generate candidates via "
    "equi-join — never all-pairs — then exact int64-quantized cosine "
    "verification (engine-identical doubles).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread examined and left OFF: the LSH+verify kernel is BIMODAL
    # under the spread (A/B reps read 1.1s and 8.3s for the same plan);
    # reverted after the order-alternating harness showed 2.27x median.
    emb = load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.35)


@register(
    "semdedup_cells",
    """
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    anchors AS (SELECT vec_id AS a_id, x AS qx, dim FROM comp WHERE vec_id < 8),
    dots AS (
      SELECT c.vec_id, a_id,
             (CAST(SUM(CAST(floor(CAST(a.qx AS DOUBLE) * 10000000 + 0.5) AS BIGINT)
                     * CAST(floor(CAST(c.x AS DOUBLE) * 10000000 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100000000000000.0) AS dot
      FROM comp c JOIN anchors a USING (dim)
      WHERE c.vec_id >= 8
      GROUP BY c.vec_id, a_id),
    cells AS (
      SELECT vec_id, a_id AS cell FROM (
        SELECT vec_id, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, a_id) AS rn
        FROM dots)
      WHERE rn = 1),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings WHERE vec_id >= 8),
    pairs AS (
      SELECT ca.vec_id AS vec_a, cb.vec_id AS vec_b
      FROM cells ca JOIN cells cb
        ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id),
    cos AS (
      SELECT p.vec_a, p.vec_b,
             ((CAST(list_sum(list_transform(list_zip(qa.qe, qb.qe),
                     x -> x[1] * x[2])) AS DOUBLE) / 100000000000000.0)
              / (sqrt(CAST(list_sum(list_transform(qa.qe, x -> x * x))
                           AS DOUBLE) / 100000000000000.0)
                 * sqrt(CAST(list_sum(list_transform(qb.qe, x -> x * x))
                             AS DOUBLE) / 100000000000000.0))) AS cosine
      FROM pairs p
      JOIN q qa ON qa.vec_id = p.vec_a
      JOIN q qb ON qb.vec_id = p.vec_b),
    dup AS (SELECT DISTINCT vec_b AS vec_id FROM cos WHERE cosine >= 0.35)
    SELECT c.vec_id, c.cell, (d.vec_id IS NOT NULL) AS is_dup
    FROM cells c LEFT JOIN dup d ON d.vec_id = c.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic "
    "dedup by clustering embeddings and comparing pairs ONLY within a "
    "cluster — the pairwise work is bounded by cell size, never "
    "corpus². Cells = best anchor by exact quantized inner product "
    "(anchors = vec_id<8 as deterministic centroid stand-ins, same "
    "convention as ann_ivf_topk); within-cell pairs verified with the "
    "exact int64-quantized cosine (Arrow-batched numpy, bit-identical "
    "to the oracle); of each near-dup pair (cosine ≥ 0.35) the "
    "higher-id vector is marked duplicate — keep-lowest-id, the "
    "deterministic restatement of SemDeDup's keep-one-per-group. "
    "Output: every clustered vector with its cell and verdict.",
)
def semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        quantized_embedding,
        verify_cosine_pairs,
    )

    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    anchors = comp.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("qx"), "dim"
    )
    dots = exact_dot(
        anchors, comp.filter(F.col("vec_id") >= 8), "a_id", "vec_id",
        exclude_self=False,
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("a_id"))
    cells = (
        dots.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("a_id").alias("cell"))
    )
    feat = emb.filter(F.col("vec_id") >= 8).select(
        "vec_id", quantized_embedding(F.col("embedding")).alias("qe")
    )
    ca = cells.select(F.col("vec_id").alias("vec_a"), "cell")
    cb = cells.select(F.col("vec_id").alias("vec_b"), "cell")
    cand = ca.join(cb, "cell").filter(F.col("vec_a") < F.col("vec_b"))
    wide = (
        cand.select("vec_a", "vec_b")
        .join(feat.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("qe_a")), "vec_a")
        .join(feat.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("qe_b")), "vec_b")
    )
    dup_ids = (
        verify_cosine_pairs(wide, threshold=0.35)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return cells.join(dup_ids, "vec_id", "left").select(
        "vec_id", "cell", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

# float32 → double → DECIMAL(16,12): engines agree on decimal rounding of
# the double value, not of the raw float (see operators.similarity).
# int64-quantized inner product — see operators.similarity.quantize.
_Q = "CAST(floor(CAST({0} AS DOUBLE) * 10000000 + 0.5) AS BIGINT)"
_DOT_DEC = (f"(CAST(SUM({_Q.format('qx')} * {_Q.format('x')}) AS DOUBLE) "
            "/ 100000000000000.0)")


@register(
    "ann_cosine_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, unnest(embedding) AS qx,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings WHERE vec_id < 10),
    c AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    d AS (
      SELECT q_id, vec_id, {_DOT_DEC} AS dot
      FROM c JOIN q USING (dim)
      WHERE vec_id != q_id
      GROUP BY q_id, vec_id),
    n AS (
      SELECT vec_id AS nid,
             (CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT)
                      * CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE)
              / 100000000000000.0) AS norm2
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id),
    s AS (
      SELECT q_id, vec_id, (dot / (sqrt(nq.norm2) * sqrt(nc.norm2))) AS cosine
      FROM d JOIN n nq ON nq.nid = q_id
             JOIN n nc ON nc.nid = vec_id)
    SELECT q_id, vec_id AS neighbor_id, cosine, rank FROM (
      SELECT q_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
      FROM s)
    WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 for 10 query vectors; exact-decimal dot "
    "products → engine-identical scores and deterministic ranking. "
    "Production fast path: operators.similarity.cosine_topk_fast.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = exploded_components(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), "embedding"
        ),
        "q_id",
        out_val="qx",
    )
    c = exploded_components(emb, "vec_id")
    s = exact_cosine_scores(q, c, "q_id", "vec_id")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


_IVF_TOPK_SQL = f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    anchors AS (SELECT vec_id AS a_id, x AS qx, dim FROM comp WHERE vec_id < 8),
    dots AS (
      SELECT c.vec_id, a_id, {_DOT_DEC.replace('qx', 'a.qx').replace('CAST(x', 'CAST(c.x')} AS dot
      FROM comp c JOIN anchors a USING (dim)
      WHERE c.vec_id >= 8
      GROUP BY c.vec_id, a_id),
    cells AS (
      SELECT vec_id, a_id AS cell FROM (
        SELECT vec_id, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, a_id) AS rn
        FROM dots)
      WHERE rn = 1),
    qcomp AS (
      SELECT vec_id AS q_id, x AS qx, dim FROM comp
      WHERE vec_id >= 10 AND vec_id < 20),
    cand AS (
      SELECT q.q_id, c.vec_id, {_DOT_DEC.replace('CAST(x', 'CAST(c.x')} AS dot
      FROM comp c JOIN qcomp q USING (dim)
      JOIN cells cc ON cc.vec_id = c.vec_id
      JOIN cells qc ON qc.vec_id = q.q_id AND qc.cell = cc.cell
      WHERE c.vec_id != q.q_id AND c.vec_id >= 8
      GROUP BY q.q_id, c.vec_id)
    SELECT q_id, vec_id AS neighbor_id, dot, rank FROM (
      SELECT q_id, vec_id, dot,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
      FROM cand)
    WHERE rank <= 3
    """


@register(
    "ann_ivf_topk",
    _IVF_TOPK_SQL,
    doc="IVF-style ANN: vectors assigned to best anchor cell (inner "
    "product, anchors = vec_id<8 as deterministic centroid stand-ins); "
    "each query probes only its own cell → candidates scanned shrink by "
    "the cell fan-out. Anchors broadcast; index shuffles once.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    anchors = comp.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("qx"), "dim"
    )
    # cell assignment for all non-anchor vectors
    dots = exact_dot(
        anchors.select("a_id", "qx", "dim"),
        comp.filter(F.col("vec_id") >= 8),
        "a_id",
        "vec_id",
        exclude_self=False,
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("a_id"))
    cells = (
        dots.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("a_id").alias("cell"))
    )
    qcomp = comp.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("q_id"), F.col("x").alias("qx"), "dim"
    )
    cand_dots = exact_dot(qcomp, comp.filter(F.col("vec_id") >= 8), "q_id", "vec_id")
    qcells = cells.select(F.col("vec_id").alias("q_id"), F.col("cell").alias("q_cell"))
    cand = (
        cand_dots.join(cells, "vec_id")
        .join(F.broadcast(qcells), "q_id")
        .filter(F.col("cell") == F.col("q_cell"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "dot", "rank")
    )


@register(
    "embedding_label_centroids",
    """
    SELECT label, dim,
           COUNT(*) AS n,
           ((CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / COUNT(*)) / 10000000.0) AS mean_val
    FROM (SELECT label, unnest(embedding) AS x,
                 unnest(range(1, len(embedding) + 1)) AS dim
          FROM embeddings)
    GROUP BY label, dim
    """,
    doc="Per-label centroid components (exact-decimal means) — the "
    "aggregate shape of embedding statistics at corpus scale.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "x")
    ).select("label", (F.col("pos") + 1).alias("dim"), "x")
    return comp.groupBy("label", "dim").agg(
        F.count("*").alias("n"),
        (
            (F.sum(quantize(F.col("x"))).cast("double") / F.count("*"))
            / F.lit(10_000_000.0)
        ).alias("mean_val"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_EN = ", ".join(f"'{w}'" for w in T.STOPWORDS["en"])
_SW_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in T.STOPWORDS.items() for w in ws
)


@register(
    "lang_id_stopwords",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    hits AS (
      SELECT doc_id, sw.sw_lang, COUNT(*) AS hits
      FROM toks JOIN (VALUES {_SW_VALUES}) sw(sw_lang, w) USING (w)
      GROUP BY doc_id, sw.sw_lang),
    best AS (
      SELECT doc_id, sw_lang AS pred_nonnull FROM (
        SELECT doc_id, sw_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY hits DESC, sw_lang) AS rn
        FROM hits)
      WHERE rn = 1)
    SELECT d.doc_id,
           COALESCE(b.pred_nonnull, 'und') AS pred_lang,
           d.lang AS actual_lang,
           CAST(CASE WHEN COALESCE(b.pred_nonnull, 'und') = d.lang
                     THEN 1 ELSE 0 END AS BIGINT) AS correct
    FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
    """,
    doc="Stopword-vote language ID (broadcast stoplist + per-doc argmax) "
    "compared against the labeled lang column.",
)
def lang_id_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pred = T.predict_language(docs)
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .select(
            "doc_id",
            "pred_lang",
            F.col("lang").alias("actual_lang"),
            F.when(F.col("pred_lang") == F.col("lang"), 1)
            .otherwise(0)
            .cast("long")
            .alias("correct"),
        )
    )


@register(
    "doc_quality_scores",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ({_EN}))) AS BIGINT) AS stop_hits,
           (CAST(list_sum(list_transform(string_split(text, ' '),
                    t -> strlen(t))) AS DOUBLE)
            / len(string_split(text, ' '))) AS mean_token_len,
           ((CAST(len(list_filter(string_split(text, ' '),
                     t -> t IN ({_EN}))) AS DOUBLE)
             / len(string_split(text, ' ')))
            - (CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                    AS DOUBLE) / n_chars)
            + ((CAST(list_sum(list_transform(string_split(text, ' '),
                     t -> strlen(t))) AS DOUBLE)
                / len(string_split(text, ' '))) / 10)) AS quality
    FROM documents
    """,
    doc="Quality scoring: token/punct/stopword ratios + mean token length "
    "composed in a fixed op order (engine-identical doubles).",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # one tokenization + one punct count per row (evaluate-once prep
    # columns); the metric arithmetic lives ONCE in operators/text.py,
    # shared with the Column-level helpers the oracle mirrors
    return T.quality_frame(docs, "doc_id", "text", "n_chars")


@register(
    "token_counts_by_source",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')))
                AS BIGINT) AS bpe_ish_tokens
    FROM documents
    GROUP BY source
    """,
    doc="Token counting: whitespace + BPE-ish regex pre-tokenizer, "
    "aggregated per source (integer sums — exact).",
)
def token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.ws_token_count(text)).alias("ws_tokens"),
        F.sum(T.regex_token_count(text)).alias("bpe_ish_tokens"),
    )


@register(
    "doc_rolling_fingerprint",
    """
    WITH toks AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               t -> CAST('0x' || substr(md5(t), 1, 7) AS BIGINT)) AS th
      FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), th),
             (acc, h) -> (acc * 1000003 + h) % 2147483647) AS roll_fp,
           CASE WHEN len(th) >= 8 THEN
             list_min(list_transform(range(1, len(th) - 6),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_slice(th, i, i + 7)),
                    (acc, h) -> (acc * 1000003 + h) % 2147483647)))
           ELSE
             list_reduce(list_prepend(CAST(0 AS BIGINT), th),
               (acc, h) -> (acc * 1000003 + h) % 2147483647)
           END AS min_win_fp
    FROM toks
    """,
    doc="Document fingerprinting via polynomial rolling hash: whole-doc "
    "order-sensitive hash + winnowing-style min 8-token-window hash. "
    "Pure narrow map, no shuffle (operators/text.py).",
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # tokens md5-hashed once per doc (evaluate-once prep column), folds
    # over int64 arrays — not once per window reference
    return T.fingerprint_frame(docs, "doc_id", "text", window=8)


# ---------------------------------------------------------------------------
# multimodal metadata (mapInPandas plumbing, arithmetic oracle)
# ---------------------------------------------------------------------------


@register(
    "multimodal_image_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
           CAST(64 + (7 * octet_length(encode(text))) % 512 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           ((octet_length(encode(text)) % 256) / 255.0) AS mean_val
    FROM documents
    """,
    doc="Multimodal plumbing: binary payload → Arrow → mapInPandas "
    "metadata extraction with the deterministic stand-in kernel (SQL-"
    "reproducible); the REAL PNG decoder path is oracle-checked by "
    "multimodal_png_roundtrip (operators/multimodal.py).",
)
def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # the explicitly-named stand-in: this query checks the Arrow plumbing
    # against an arithmetic oracle (text payloads are not PNGs; the real
    # default decoder is exercised by multimodal_png_roundtrip)
    return image_metadata(with_binary_payload(docs), decode=fake_image_meta)


@register(
    "multimodal_frame_sample",
    """
    WITH f AS (
      SELECT doc_id, text,
             unnest(range(0, octet_length(encode(text)) // 32)) AS frame_idx
      FROM documents)
    SELECT doc_id,
           frame_idx,
           md5(substr(text, CAST(frame_idx * 32 + 1 AS INT), 32)) AS frame_md5
    FROM f
    WHERE frame_idx % 4 = 0
    """,
    doc="Video/audio frame sampling plumbing: binary payload → Arrow → "
    "mapInPandas 1→N frame fan-out (every 4th 32-byte frame, md5 "
    "summary; the REAL WAV frame path is wav_frame_fn, oracle-checked "
    "via multimodal_wav_meta); the "
    "payload is ASCII so the SQL oracle reproduces byte frames with "
    "substr.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return frame_samples(with_binary_payload(docs), frame_bytes=32, stride=4)


@register(
    "multimodal_png_roundtrip",
    """
    SELECT d.doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           (SELECT AVG((d.doc_id * 31 + i) % 256) FROM range(192) t(i))
             / 255.0 AS mean_val,
           (SELECT AVG((d.doc_id * 31
                        + ((2 * (i // 12) * 8 + 2 * ((i % 12) // 3)) * 3
                           + i % 3)) % 256)
            FROM range(48) t(i)) / 255.0 AS resized_mean
    FROM documents d
    WHERE d.doc_id < 200
    """,
    doc="REAL image codec end-to-end (functions/imagecodec.py, pure-"
    "stdlib PNG per the public spec): pixels synthesized from doc_id → "
    "encode_png → decode_image (zlib inflate + unfilter) → "
    "resize_image (decode, nearest-neighbor on real pixels, re-encode) "
    "→ decode again. The pixel formula is arithmetic on doc_id, so the "
    "SQL oracle recomputes every decoded width/height/channel/mean — "
    "including the mean AFTER resize (nearest-neighbor index mapping "
    "restated in SQL). All stages are Arrow-batched mapInPandas.",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from kinesis_log_watcher_spark.functions.imagecodec import encode_png
    from kinesis_log_watcher_spark.operators.multimodal import (
        image_metadata,
        resize_images,
    )

    w = h = 8
    ch = 3

    def synth(batches):
        for pdf in batches:
            payloads = [
                encode_png(
                    bytes((int(d) * 31 + i) % 256 for i in range(w * h * ch)),
                    w, h, ch,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )
    imgs = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    # defaults ARE the real codec (operators/multimodal.py) — this query
    # oracle-checks image_metadata/resize_images exactly as a library
    # consumer calls them
    meta = image_metadata(imgs).select(
        "doc_id", "width", "height", "channels", "mean_val"
    )
    resized = resize_images(imgs, width=4, height=4)
    rmeta = image_metadata(
        resized.select("doc_id", F.col("resized").alias("payload")),
    ).select("doc_id", F.col("mean_val").alias("resized_mean"))
    return meta.join(rmeta, "doc_id")


@register(
    "multimodal_wav_meta",
    """
    SELECT d.doc_id,
           CAST(1 AS BIGINT) AS channels,
           CAST(2 AS BIGINT) AS sample_width,
           CAST(16000 AS BIGINT) AS frame_rate,
           CAST(64 AS BIGINT) AS n_frames,
           (SELECT AVG((d.doc_id * 17 + i) % 256) FROM range(128) t(i))
             AS pcm_mean
    FROM documents d
    WHERE d.doc_id < 200
    """,
    doc="REAL audio codec end-to-end (stdlib wave): PCM synthesized from "
    "doc_id → encode_wav → decode_audio → header metadata (channels/"
    "width/rate/frames) + PCM byte mean, all restated arithmetically in "
    "SQL. Arrow-batched mapInPandas, same seam as the image path.",
)
def multimodal_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from kinesis_log_watcher_spark.functions.imagecodec import encode_wav
    from kinesis_log_watcher_spark.operators.multimodal import decode_audio

    n_bytes = 128  # 64 frames of 16-bit mono

    def synth_and_decode(batches):
        for pdf in batches:
            out = {"doc_id": [], "channels": [], "sample_width": [],
                   "frame_rate": [], "n_frames": [], "pcm_mean": []}
            for d in pdf["doc_id"]:
                pcm = bytes((int(d) * 17 + i) % 256 for i in range(n_bytes))
                ch, sw, rate, n, got = decode_audio(
                    encode_wav(pcm, channels=1, sample_width=2,
                               frame_rate=16000)
                )
                out["doc_id"].append(int(d))
                out["channels"].append(ch)
                out["sample_width"].append(sw)
                out["frame_rate"].append(rate)
                out["n_frames"].append(n)
                out["pcm_mean"].append(sum(got) / len(got))
            yield pd.DataFrame(out)

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )
    return docs.mapInPandas(
        synth_and_decode,
        "doc_id bigint, channels bigint, sample_width bigint, "
        "frame_rate bigint, n_frames bigint, pcm_mean double",
    )


@register(
    "embedding_int8_quantize",
    """
    WITH scaled AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) AS s
      FROM embeddings),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
                e -> CAST(floor(CAST(e AS DOUBLE) / s * 127 + 0.5)
                          AS BIGINT)) AS qv
      FROM scaled WHERE s > 0)
    SELECT vec_id,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           CAST(list_min(qv) AS BIGINT) AS q_min
    FROM q
    """,
    doc="Symmetric int8 embedding quantization (the storage/serving "
    "compression step of an embedding pipeline): per-vector scale = "
    "max|x|, q = floor(x/s*127 + 0.5) — the engine-portable half-up "
    "convention (see quantize() in operators/similarity.py; round() "
    "half-even ties differ across engines). All higher-order functions "
    "(transform/array_max/aggregate) — JVM-side, no UDF, narrow "
    "projection, zero shuffle.",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda e: e.cast("double"))
    s = F.array_max(F.transform(dbl, F.abs))
    q = F.transform(
        dbl, lambda e: F.floor(e / F.col("s") * 127 + F.lit(0.5)).cast("long")
    )
    return (
        emb.withColumn("s", s)
        .filter(F.col("s") > 0)
        .withColumn("qv", q)
        .select(
            "vec_id",
            F.aggregate(
                "qv", F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("q_sum"),
            F.array_max("qv").alias("q_max"),
            F.array_min("qv").alias("q_min"),
        )
    )


@register(
    "ann_cosine_topk_fast",
    """
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
      FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             CAST(floor(list_cosine_similarity(q.q_emb,
                    CAST(e.embedding AS DOUBLE[])) * 1000000000 + 0.5)
                  AS BIGINT) AS cos_q
      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
    ranked AS (
      SELECT q_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_q DESC, neighbor_id) AS rank
      FROM scored)
    SELECT q_id, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    doc="Production brute-force ANN path: broadcast queries × index, "
    "zip_with/aggregate codegen'd dot product in doubles (no exact-"
    "decimal overhead), per-query top-5 ranking window. The index is "
    "scanned once and never shuffled for the join. RANK-ONLY oracle "
    "contract: the raw double cosine is dropped from the output (its "
    "fold rounding is engine-specific; tests/test_udfs.py pins exact "
    "parity with a Python left-fold) — both engines rank their own "
    "double-precision scores and must produce the same neighbor order; "
    "the exact-decimal twin ann_cosine_topk hash-matches scores too.",
)
def ann_cosine_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import cosine_topk_fast

    # spread=True: the brute-force scoring map is the whole query
    # (measured 0.9 -> 0.5s at sf0.1, A/B r12).
    emb = load(spark, sf_dir, "embeddings", spread=True)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # rank on the 1e-9-quantized cosine (both engines): scores closer
    # than 1e-9 tie and break by id, so engine-specific last-ulp fold
    # rounding cannot flip the neighbor order the oracle compares
    return cosine_topk_fast(q, emb, k=5, rank_quantize=1e9).select(
        "q_id", "neighbor_id", "rank"
    )


# ---------------------------------------------------------------------------
# end-to-end curation composite
# ---------------------------------------------------------------------------


@register(
    "curation_pipeline",
    f"""
    WITH canon AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    q AS (
      SELECT doc_id,
             ((CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ({_EN}))) AS DOUBLE)
               / len(string_split(text, ' ')))
              - (CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                      AS DOUBLE) / n_chars)
              + ((CAST(list_sum(list_transform(string_split(text, ' '),
                       t -> strlen(t))) AS DOUBLE)
                  / len(string_split(text, ' '))) / 10)) AS quality
      FROM documents)
    SELECT d.source, e.label,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens
    FROM documents d
    JOIN canon USING (doc_id)
    JOIN q USING (doc_id)
    JOIN embeddings e ON e.vec_id = d.doc_id
    WHERE q.quality > 0.5
    GROUP BY 1, 2
    """,
    doc="End-to-end curation composite — the training-data pipeline "
    "shape: exact-dedup survivors ∩ quality threshold ⋈ embedding "
    "labels → per-(source, label) doc/token budget. Composes the dedup, "
    "text-analysis, and join operators in one plan; at corpus scale "
    "each stage is the already-verified distributed operator.",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    canon = exact_dedup_groups(docs, F.md5(F.col("text"))).select(
        F.col("canonical_id").alias("doc_id")
    )
    survivors = docs.join(canon, "doc_id")
    good = survivors.filter(T.quality_score(F.col("text"), F.col("n_chars")) > 0.5)
    labeled = good.join(
        emb.select(F.col("vec_id").alias("doc_id"), "label"), "doc_id"
    )
    return labeled.groupBy("source", "label").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.ws_token_count(F.col("text"))).alias("total_tokens"),
    )


@register(
    "top_ngrams_per_lang",
    """
    WITH bg AS (
      SELECT lang,
             unnest(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')
             )) AS bigram
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    counts AS (
      SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY lang, bigram)
    SELECT lang, bigram, n, rank FROM (
      SELECT lang, bigram, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY n DESC, bigram) AS BIGINT) AS rank
      FROM counts)
    WHERE rank <= 5
    """,
    doc="Corpus n-gram statistics: bigram explode → (lang, bigram) count "
    "→ deterministic top-5 per language (count desc, bigram asc). The "
    "count shuffle keys on (lang, bigram) — high cardinality, well "
    "spread. The ranking is TWO-PHASE (the "
    "topk_orders_per_segment_twophase pattern): a single window "
    "partitioned by lang would sort every language's ENTIRE counted "
    "vocabulary through one shuffle partition per language (a handful "
    "of partitions carrying the whole vocab at 100 TB); instead phase "
    "1 ranks within (lang, md5(bigram)%8) salt buckets and keeps each "
    "bucket's top-5, phase 2 ranks the <=40 survivors per lang. "
    "Result-invariant: a bigram outside its salt bucket's top-5 is "
    "beaten by 5 bigrams of its own language, so it cannot be in the "
    "language's global top-5 — the oracle computes the single-window "
    "form directly.",
)
def top_ngrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.dedup import tokens_col

    docs = load(spark, sf_dir, "documents")
    # every occurrence counts (frequency stats) — unlike the dedup
    # shingle index, which distincts per doc
    toks = tokens_col(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    bg = docs.filter(F.size(toks) >= 2).select(
        "lang", F.explode(bigrams).alias("bigram")
    )
    counts = bg.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    salt = (
        F.conv(F.substring(F.md5(F.col("bigram")), 1, 15), 16, 10).cast("long") % 8
    )
    w1 = Window.partitionBy("lang", "salt").orderBy(
        F.col("n").desc(), F.col("bigram")
    )
    partial = (
        counts.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= 5)
        .drop("salt", "r1")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("lang", "bigram", "n", "rank")
    )


@register(
    "dedup_normalized",
    """
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[.,!?;:]', '', 'g'), ' +', ' ', 'g'))) AS dedup_key,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_members
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup after canonicalization (lowercase, strip "
    "punctuation, collapse whitespace) — the standard normalizer pass "
    "that catches trivially-reformatted duplicates before any "
    "near-dup machinery runs. Same single-shuffle hash-groupBy shape "
    "as dedup_exact.",
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[.,!?;:]", ""),
            " +",
            " ",
        )
    )
    return exact_dedup_groups(docs, F.md5(norm))


@register(
    "doc_length_histogram",
    """
    SELECT CASE WHEN n_chars >= 600 THEN 13
                ELSE CAST(floor(n_chars / 50) + 1 AS BIGINT) END AS bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1
    """,
    doc="Corpus length histogram via width_bucket (12 equal bins over "
    "[0, 600) chars) — the distribution profile a curation pipeline "
    "checks before setting length filters. Single partial-aggregated "
    "shuffle on the bucket id.",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = F.width_bucket(F.col("n_chars"), F.lit(0), F.lit(600), F.lit(12))
    return docs.groupBy(bucket.cast("long").alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@register(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ((CAST(tf.tf AS DOUBLE) * n.n_docs) / df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, score, rank FROM (
      SELECT doc_id, term, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, term) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    doc="TF-IDF-style term salience, top-3 per doc. The score is the "
    "exact rational tf*N/df (one multiply, one divide — engine-"
    "deterministic; log-scaled IDF differs across libm implementations "
    "by ULPs, so a hash-compared gate cannot use it). Shapes: tf "
    "aggregates on (doc, term); df on term; the df join broadcasts when "
    "the vocabulary is small and shuffles on the high-cardinality term "
    "key otherwise.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; the oracle's CROSS JOIN n
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        ((F.col("tf").cast("double") * F.lit(n_docs)) / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "score", "rank")
    )


@register(
    "cms_user_counts",
    """
    WITH ix AS (SELECT unnest(range(4)) AS i),
    hashed AS (
      SELECT e.user_id, ix.i,
             CAST('0x' || substr(md5(CAST(ix.i AS VARCHAR) || ':'
                  || CAST(e.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
      FROM events e CROSS JOIN ix),
    counters AS (SELECT i, b, COUNT(*) AS c FROM hashed GROUP BY 1, 2),
    keys AS (SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY 1),
    probes AS (
      SELECT k.user_id, k.exact_n, ix.i,
             CAST('0x' || substr(md5(CAST(ix.i AS VARCHAR) || ':'
                  || CAST(k.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
      FROM keys k CROSS JOIN ix)
    SELECT p.user_id,
           CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_n,
           CAST(MIN(p.exact_n) AS BIGINT) AS exact_n
    FROM probes p LEFT JOIN counters c ON p.i = c.i AND p.b = c.b
    GROUP BY p.user_id
    """,
    doc="Count-Min Sketch (operators/sketch.py): frequency estimation in "
    "a 4×64 counter grid — ONE aggregation pass builds it at any input "
    "size, estimation is a broadcast join against 256 rows, and the "
    "estimate is provably ≥ exact (collisions only inflate). md5-derived "
    "row hashes make the grid — hence every estimate — SQL-reproducible; "
    "the oracle rebuilds it and must match bit-for-bit, exact counts "
    "included for the error profile.",
)
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import cms_build, cms_estimate

    ev = load(spark, sf_dir, "events")
    cms = cms_build(ev, "user_id", depth=4, width=64)
    keys = ev.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    est = cms_estimate(cms, keys, "user_id", depth=4, width=64)
    return est.join(keys, "user_id").select(
        "user_id", "est_n", F.col("exact_n").cast("long").alias("exact_n")
    )


@register(
    "bloom_prefilter_membership",
    """
    WITH ix AS (SELECT unnest(range(3)) AS i),
    member AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000),
    bits AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(ix.i AS VARCHAR) || ':'
                  || CAST(m.o_custkey AS VARCHAR)), 1, 15) AS BIGINT)
               % 1024 AS b
      FROM member m CROSS JOIN ix),
    probes AS (
      SELECT c.c_custkey, ix.i,
             CAST('0x' || substr(md5(CAST(ix.i AS VARCHAR) || ':'
                  || CAST(c.c_custkey AS VARCHAR)), 1, 15) AS BIGINT)
               % 1024 AS b
      FROM customer c CROSS JOIN ix)
    SELECT p.c_custkey,
           MIN(b.b IS NOT NULL) AS bloom_maybe,
           MIN(p.c_custkey IN (SELECT o_custkey FROM member)) AS actually_in
    FROM probes p LEFT JOIN bits b ON p.b = b.b
    GROUP BY p.c_custkey
    """,
    doc="Bloom-filter pre-filter (operators/sketch.py): the big-spender "
    "custkey set compresses to ≤1024 set bits (whatever its size), "
    "broadcasts, and every customer membership-tests against it — the "
    "scale pattern for pre-filtering a fact before a join against a dim "
    "too large to broadcast exactly. No false negatives by construction "
    "(the oracle recomputes the bit set AND the exact membership, so "
    "the gate verifies the false-positive profile bit-for-bit).",
)
def bloom_prefilter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import bloom_build, bloom_probe

    member = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
        .distinct()
    )
    bits = bloom_build(member, "o_custkey", m_bits=1024, k=3)
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    probed = bloom_probe(bits, cust, "c_custkey", m_bits=1024, k=3)
    exact = member.withColumnRenamed("o_custkey", "c_custkey").withColumn(
        "_in", F.lit(True)
    )
    return (
        probed.join(F.broadcast(exact), "c_custkey", "left")
        .select(
            "c_custkey",
            "bloom_maybe",
            F.coalesce(F.col("_in"), F.lit(False)).alias("actually_in"),
        )
    )


_HLL_P4_ALPHA = 0.673 * 16 * 16 * float(1 << 57)  # alpha_16 * m^2 * 2^K


_HLL_SQL = f"""
    WITH hashed AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM events),
    regs AS (
      SELECT event_type, h % 16 AS r,
             MAX(CASE WHEN (h >> 4) = 0 THEN 57
                      ELSE 57 - length(bin(h >> 4)) END) AS m_rho
      FROM hashed GROUP BY 1, 2),
    stats AS (
      SELECT event_type, COUNT(*) AS present,
             SUM(1::BIGINT << (57 - m_rho)) AS s_present
      FROM regs GROUP BY 1),
    est AS (
      SELECT event_type, 16 - present AS v,
             {_HLL_P4_ALPHA!r}
               / (s_present + (16 - present) * (1::BIGINT << 57)) AS e_raw
      FROM stats)
    SELECT e.event_type,
           CAST(floor(CASE WHEN e_raw <= 40.0 AND v > 0
                           THEN 16.0 * ln(16.0 / v) ELSE e_raw END + 0.5)
                AS BIGINT) AS est_users,
           x.exact_users
    FROM est e
    JOIN (SELECT event_type,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
          FROM events GROUP BY 1) x USING (event_type)
    """


@register(
    "hll_user_distinct",
    _HLL_SQL,
    doc="HyperLogLog (operators/sketch.py): per-event-type distinct-user "
    "estimate from a 16-register sketch — ONE aggregation pass builds "
    "≤16 rows per group at any input size, shards merge by register-MAX, "
    "and every quantity up to the final division is exact int64 "
    "(S = sum 2^(K-M_j)), so the raw estimator is one IEEE division — "
    "SQL-reproducible bit-for-bit. The oracle rebuilds the sketch and "
    "must match, exact distinct counts included for the error profile. "
    "This is the mergeable NDV sketch for 100 TB rollups (daily sketches "
    "→ monthly distinct without re-reading raw keys).",
)
def hll_user_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return _hll_finalize(_hll_state(ev), ev)


def _hll_state(events: DataFrame) -> DataFrame:
    """Per-event-type p=4 register table — groupBy-MAX, order-free, so
    the streaming twin holds it as complete-mode state."""
    from kinesis_log_watcher_spark.operators.sketch import hll_build

    return hll_build(events, "user_id", group_cols=("event_type",), p=4)


def _hll_finalize(regs: DataFrame, events: DataFrame) -> DataFrame:
    """Estimate from the registers, joined to the exact distinct-user
    counts of the batch ``events`` scan (the error profile)."""
    from kinesis_log_watcher_spark.operators.sketch import hll_estimate

    est = hll_estimate(regs, group_cols=("event_type",), p=4)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        est.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            F.floor(F.col("est_distinct") + 0.5).cast("long").alias("est_users"),
            "exact_users",
        )
    )


@register(
    "value_quantile_hist",
    """
    WITH b AS (
      SELECT event_type,
             LEAST(GREATEST(CAST(floor((value - 0.0) / 10.0) AS BIGINT), 0),
                   49) AS bin
      FROM events),
    h AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bin,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM h),
    hit AS (
      SELECT event_type, p, MIN(bin) AS bin_idx, MIN(n) AS n
      FROM cum CROSS JOIN (SELECT unnest([50, 95]) AS p) q
      WHERE cum * 100 >= p * n
      GROUP BY 1, 2)
    SELECT event_type, CAST(p AS BIGINT) AS p,
           0.0 + (bin_idx + 0.5) * 10.0 AS est_value,
           CAST(n AS BIGINT) AS n
    FROM hit
    """,
    doc="Mergeable histogram quantiles (operators/sketch.py): p50/p95 of "
    "event value per type from a 50-bin equi-width histogram — ≤50 "
    "counter rows per group at any input size, shards merge by counter "
    "addition, and the rank test is exact int64 (cum*100 >= p*n: "
    "integer percents, no float ranks). The answer to 'p95 over "
    "100 TB' where exact order statistics would need a global sort; "
    "accuracy is bin width, estimate = covering bin midpoint "
    "(bit-identical multiply-add on both engines).",
)
def value_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import (
        hist_build,
        hist_quantiles,
    )

    ev = load(spark, sf_dir, "events")
    hist = hist_build(ev, "value", ("event_type",), lo=0.0, hi=500.0, nbins=50)
    return hist_quantiles(
        hist, (50, 95), ("event_type",), lo=0.0, hi=500.0, nbins=50
    )


@register(
    "doc_chunking",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    c AS (SELECT doc_id, toks, n,
                 unnest(range(0, (GREATEST(n - 32, 0) + 23) // 24 + 1)) AS ci
          FROM n)
    SELECT doc_id,
           CAST(ci AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, ci * 24 + 1, ci * 24 + 32), ' ')
             AS chunk,
           CAST(LEAST(32, n - ci * 24) AS BIGINT) AS chunk_tokens
    FROM c
    """,
    doc="Document chunking (the RAG/training-prep step): 32-token "
    "windows with stride 24 (8-token overlap) — chunk count computed in "
    "non-negative integer arithmetic (engine-portable: no negative "
    "floor-division divergence), then a 1→N sequence explode + "
    "array slice. Narrow generator over the scan partitioning — no "
    "shuffle, the chunk fan-out is the output size.",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 32, 24
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    n = F.size("toks")
    n_chunks = (
        (F.greatest(n - size, F.lit(0)) + (stride - 1)) / stride
    ).cast("long") + 1
    chunks = docs.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(
            F.slice("toks", F.col("chunk_idx") * stride + 1, size), " "
        ).alias("chunk"),
        F.least(F.lit(size), F.col("n") - F.col("chunk_idx") * stride)
        .cast("long")
        .alias("chunk_tokens"),
    )


@register(
    "doc_pii_scrub",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or ' || CAST(doc_id AS VARCHAR)
                  || '7654321 today' AS text
      FROM documents)
    SELECT doc_id,
           md5(regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '[0-9]{6,}', '<NUM>', 'g')) AS scrubbed_md5,
           CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]{6,}'))
                AS BIGINT) AS n_nums
    FROM seeded
    """,
    doc="PII scrubbing (curation-pipeline redaction): email and "
    "long-digit-run patterns replaced with placeholders, replacement "
    "counts reported (PII is seeded deterministically into the synthetic "
    "corpus so the op has real work). Patterns restricted to the "
    "regex-dialect intersection where Java and RE2 agree; pure narrow "
    "projection, whole-stage codegen.",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    nums = r"[0-9]{6,}"
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or "),
            F.col("doc_id").cast("string"),
            F.lit("7654321 today"),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), nums, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(email), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(nums), F.lit(0)))
        .cast("long").alias("n_nums"),
    )


@register(
    "ann_ivf_persisted",
    _IVF_TOPK_SQL,  # persistence must not change results
    doc="IVF index LIFECYCLE: the cell-assignment index is BUILT once, "
    "written to parquet (the stored index a serving layer reloads), "
    "read back with an explicit schema, and probed — results must be "
    "identical to the build-and-probe-in-one-job ann_ivf_topk, so the "
    "two queries share one oracle. At scale this is the separation that "
    "matters: index build is the expensive pass, every later query ships "
    "only the probe.",
)
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir

    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    anchors = comp.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("qx"), "dim"
    )
    dots = exact_dot(
        anchors.select("a_id", "qx", "dim"),
        comp.filter(F.col("vec_id") >= 8),
        "a_id",
        "vec_id",
        exclude_self=False,
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("a_id"))
    cells = (
        dots.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("a_id").alias("cell"))
    )
    # ---- persist the index, reload it (explicit schema: empty-safe) ----
    path = scratch_dir(prefix="ivf_idx_") + "/cells"
    cells.write.mode("overwrite").parquet(path)
    stored = spark.read.schema("vec_id bigint, cell bigint").parquet(path)
    # ---- probe against the STORED index ----
    qcomp = comp.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("q_id"), F.col("x").alias("qx"), "dim"
    )
    cand_dots = exact_dot(qcomp, comp.filter(F.col("vec_id") >= 8), "q_id", "vec_id")
    qcells = stored.select(F.col("vec_id").alias("q_id"), F.col("cell").alias("q_cell"))
    cand = (
        cand_dots.join(stored, "vec_id")
        .join(F.broadcast(qcells), "q_id")
        .filter(F.col("cell") == F.col("q_cell"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "dot", "rank")
    )


# ---------------------------------------------------------------------------
# corpus admission filter (blocklist + gates)
# ---------------------------------------------------------------------------

_BLOCKED_SOURCES = ("src3", "src7", "src13")
_ADMIT_LANGS = ("en", "de", "fr")
_ADMIT_MIN_CHARS, _ADMIT_MAX_CHARS = 100, 520


@register(
    "source_admission_stats",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN source IN {_BLOCKED_SOURCES!r}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(SUM(CASE WHEN source NOT IN {_BLOCKED_SOURCES!r}
                          AND lang IN {_ADMIT_LANGS!r}
                          AND n_chars BETWEEN {_ADMIT_MIN_CHARS}
                                          AND {_ADMIT_MAX_CHARS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
    FROM documents
    GROUP BY source
    """,
    doc="Corpus admission filter (C4/RefinedWeb-style): a source/domain "
    "blocklist plus language and length gates, rolled up per source. "
    "The blocklist is applied as a BROADCAST left join against a "
    "blocklist relation — the shape that holds when the blocklist is "
    "millions of domains (an isin literal would not) — and the gates "
    "are plain pushdown-able predicates. One groupBy shuffle on source.",
)
def source_admission_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    block = F.broadcast(
        spark.createDataFrame(
            [(s,) for s in _BLOCKED_SOURCES], "source string"
        ).withColumn("_blocked", F.lit(True))
    )
    flagged = docs.join(block, "source", "left").select(
        "source",
        F.coalesce("_blocked", F.lit(False)).alias("blocked"),
        F.col("lang").isin(*_ADMIT_LANGS).alias("lang_ok"),
        F.col("n_chars").between(_ADMIT_MIN_CHARS, _ADMIT_MAX_CHARS).alias("len_ok"),
    )
    admitted = ~F.col("blocked") & F.col("lang_ok") & F.col("len_ok")
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("blocked"), 1).otherwise(0)).cast("long").alias("n_blocked"),
        F.sum(F.when(admitted, 1).otherwise(0)).cast("long").alias("n_admitted"),
    )


# ---------------------------------------------------------------------------
# random-projection dimensionality reduction
# ---------------------------------------------------------------------------

_RP_OUT_DIMS = 8
_RP_IN_DIMS = 64


def _rp_sign(j: int, d: int) -> int:
    """Deterministic ±1 from md5(j_d) — reproducible by SQL md5."""
    import hashlib

    h = hashlib.md5(f"{j}_{d}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


@register(
    "embedding_random_projection",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    r AS (
      SELECT j, d,
             CASE WHEN CAST('0x' || substr(md5(j || '_' || d), 1, 1) AS INTEGER)
                       % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM unnest(range(0, {_RP_OUT_DIMS})) AS tj(j),
           unnest(range(1, {_RP_IN_DIMS} + 1)) AS td(d))
    SELECT vec_id, CAST(j AS BIGINT) AS out_dim,
           CAST(SUM(sgn * CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5)
                               AS BIGINT)) AS BIGINT) AS proj_q
    FROM comp JOIN r ON r.d = comp.dim
    GROUP BY vec_id, j
    """,
    doc="Random-projection dimensionality reduction (Achlioptas-style "
    "±1 matrix): 64-d embeddings → 8-d signatures, out[j] = Σ_d "
    "sign(md5(j_d)) · q(x_d) over int64-quantized components — exact, "
    "engine-identical. The projection matrix is a deterministic "
    "md5-derived constant: the Spark side embeds it as literals in one "
    "codegen'd fold per output dim (pure NARROW map — no join, no "
    "shuffle, the shape that holds at 100 TB where R is a broadcast "
    "constant); the oracle regenerates the same matrix with SQL md5.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 10000000 + F.lit(0.5)).cast("long"),
    )
    from kinesis_log_watcher_spark.functions.evalonce import gate

    prepped = emb.select("vec_id", gate(q).alias("__qe"))
    outs = []
    for j in range(_RP_OUT_DIMS):
        signs = [_rp_sign(j, d) for d in range(1, _RP_IN_DIMS + 1)]
        # fold Σ sgn·q_d as one aggregate over the shared quantized array
        proj = F.aggregate(
            F.zip_with(
                F.col("__qe"),
                F.array(*[F.lit(s).cast("long") for s in signs]),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        outs.append(F.struct(F.lit(j).cast("long").alias("out_dim"),
                             proj.alias("proj_q")))
    return prepped.select(
        "vec_id", F.explode(F.array(*outs)).alias("o")
    ).select("vec_id", "o.out_dim", "o.proj_q")


# ---------------------------------------------------------------------------
# k-means (Lloyd), two exact rounds
# ---------------------------------------------------------------------------


@register(
    "kmeans_two_rounds",
    """
    WITH comp AS (
      SELECT vec_id,
             CAST(floor(CAST(x AS DOUBLE) * 10000000 + 0.5) AS BIGINT) AS qx,
             dim
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   unnest(range(1, len(embedding) + 1)) AS dim
            FROM embeddings)),
    c0 AS (SELECT vec_id AS cell, qx AS qc, dim FROM comp WHERE vec_id < 8),
    d1 AS (
      SELECT c.vec_id, c0.cell,
             SUM((c.qx - c0.qc) * (c.qx - c0.qc)) AS dist
      FROM comp c JOIN c0 USING (dim)
      WHERE c.vec_id >= 8
      GROUP BY c.vec_id, c0.cell),
    a1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist ASC, cell ASC) AS rn
        FROM d1)
      WHERE rn = 1),
    c1 AS (
      SELECT a1.cell, comp.dim,
             CAST(floor(CAST(SUM(comp.qx) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS qc
      FROM a1 JOIN comp USING (vec_id)
      GROUP BY a1.cell, comp.dim),
    d2 AS (
      SELECT c.vec_id, c1.cell,
             SUM((c.qx - c1.qc) * (c.qx - c1.qc)) AS dist
      FROM comp c JOIN c1 USING (dim)
      WHERE c.vec_id >= 8
      GROUP BY c.vec_id, c1.cell),
    a2 AS (
      SELECT vec_id, cell, dist FROM (
        SELECT vec_id, cell, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist ASC, cell ASC) AS rn
        FROM d2)
      WHERE rn = 1)
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(dist) AS BIGINT) AS inertia_q
    FROM a2 GROUP BY cell
    """,
    doc="k-means, two Lloyd rounds, EXACT: components quantized to the "
    "int64 grid; squared-L2 assignment in integer arithmetic; updated "
    "centroids re-quantized to the grid (floor(S/n + 0.5) — IEEE double "
    "division is correctly rounded, so both engines land on identical "
    "integers); second assignment + per-cell inertia, all engine-"
    "identical. Iterative-algorithm representative: each round is one "
    "broadcast-dim join + one (vec, cell) aggregation — k·d stays tiny "
    "and broadcast, the corpus shuffles once per round on vec_id, the "
    "canonical cluster shape for Lloyd at scale. Init = vec_id<8 "
    "anchors (deterministic seeds, same convention as ann_ivf_topk).",
)
def kmeans_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id").select(
        "vec_id", quantize(F.col("x")).alias("qx"), "dim"
    )
    members = comp.filter(F.col("vec_id") >= 8)

    def assign(centroids: DataFrame) -> DataFrame:
        """(cell, qc, dim) → per-vector best cell by exact squared L2."""
        d = (
            members.join(F.broadcast(centroids), "dim")
            .groupBy("vec_id", "cell")
            .agg(
                F.sum(
                    (F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))
                ).alias("dist")
            )
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell", "dist")
        )

    c0 = comp.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("qx").alias("qc"), "dim"
    )
    a1 = assign(c0).select("vec_id", "cell")
    c1 = (
        a1.join(comp, "vec_id")
        .groupBy("cell", "dim")
        .agg(
            F.floor(
                F.sum("qx").cast("double") / F.count("*") + F.lit(0.5)
            ).cast("long").alias("qc")
        )
    )
    a2 = assign(c1)
    return a2.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("dist").cast("long").alias("inertia_q"),
    )


# --------------------------------------------------------------------------
# end-to-end curation funnel (integration of the pipeline stages)
# --------------------------------------------------------------------------

_FUNNEL_ADMIT_SOURCES = tuple(f"src{i}" for i in range(10))
_FUNNEL_MIN_CHARS = 100
_FUNNEL_MIN_TOKENS = 20
_FUNNEL_SAMPLE_RATE = 0.5

_FUNNEL_ORACLE = f"""
    WITH flags AS (
      SELECT lang, doc_id,
             (source IN {_FUNNEL_ADMIT_SOURCES}
              AND n_chars >= {_FUNNEL_MIN_CHARS}) AS p_admit,
             (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS n_toks,
             MD5(text) AS fp
      FROM documents),
    staged AS (
      SELECT lang, doc_id, fp, p_admit,
             (p_admit AND n_toks >= {_FUNNEL_MIN_TOKENS}
              AND CAST(n_toks AS DOUBLE) > 0
              AND (SELECT 1) = 1) AS _dummy_false_guard,
             (p_admit AND n_toks >= {_FUNNEL_MIN_TOKENS}) AS p_qual
      FROM flags),
    ranked AS (
      SELECT lang, doc_id, p_admit, p_qual,
             CASE WHEN p_qual THEN
               ROW_NUMBER() OVER (PARTITION BY fp, p_qual ORDER BY doc_id)
             END AS rn
      FROM staged),
    final AS (
      SELECT lang, p_admit, p_qual,
             (p_qual AND rn = 1) AS p_uniq,
             (p_qual AND rn = 1
              AND SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)
                  < '80000000') AS p_samp
      FROM ranked)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_ingest,
           CAST(SUM(CASE WHEN p_admit THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN p_qual THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN p_uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN p_samp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM final GROUP BY lang
"""


@register(
    "corpus_curation_funnel",
    _FUNNEL_ORACLE,
    doc="End-to-end curation funnel: source admission → quality gate "
    "(whitespace token count) → exact dedup (keep-first per md5 "
    "fingerprint among quality survivors) → deterministic md5-threshold "
    "sampling, reported as per-language survivor counts at every stage. "
    "Integration showcase for the pipeline the reference's users would "
    "run before training: ONE scan of the corpus, per-doc stage flags "
    "computed inline, one window shuffle (fingerprint ranking) and one "
    "aggregation shuffle — no stage re-reads the table, so the plan is "
    "the same at 100 TB: scan → window on fp → partial agg → final agg.",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sampling import (
        hash_draw,
        rate_threshold,
    )

    docs = load(spark, sf_dir, "documents")
    n_toks = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + F.lit(1)
    )
    flags = docs.select(
        "lang",
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        (
            F.col("source").isin(*_FUNNEL_ADMIT_SOURCES)
            & (F.col("n_chars") >= _FUNNEL_MIN_CHARS)
        ).alias("p_admit"),
        n_toks.alias("n_toks"),
    ).withColumn(
        "p_qual", F.col("p_admit") & (F.col("n_toks") >= _FUNNEL_MIN_TOKENS)
    )
    w = Window.partitionBy("fp", "p_qual").orderBy("doc_id")
    ranked = flags.withColumn(
        "rn", F.when(F.col("p_qual"), F.row_number().over(w))
    )
    thresh = rate_threshold(_FUNNEL_SAMPLE_RATE)
    final = ranked.select(
        "lang",
        "p_admit",
        "p_qual",
        (F.col("p_qual") & (F.col("rn") == 1)).alias("p_uniq"),
        (
            F.col("p_qual")
            & (F.col("rn") == 1)
            & (hash_draw(F.col("doc_id")) < F.lit(thresh))
        ).alias("p_samp"),
    )

    def n(flag: str, alias: str):
        return F.sum(F.when(F.col(flag), 1).otherwise(0)).cast("long").alias(alias)

    return final.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_ingest"),
        n("p_admit", "n_admitted"),
        n("p_qual", "n_quality"),
        n("p_uniq", "n_unique"),
        n("p_samp", "n_sampled"),
    )


# --------------------------------------------------------------------------
# PageRank (two power iterations) — link-graph authority for data curation
# --------------------------------------------------------------------------

_PR_DAMPING = 0.85
_PR_UNIT = 1_000_000_000_000  # score mass in pico-units


@register(
    "pagerank_two_rounds",
    f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (
      SELECT cnode AS src, snode AS dst FROM pairs
      UNION ALL
      SELECT snode AS src, cnode AS dst FROM pairs),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
    r0 AS (
      SELECT deg.src AS node, deg.outdeg,
             CAST(floor(CAST({_PR_UNIT} AS DOUBLE) / st.n_nodes) AS BIGINT)
               AS q
      FROM deg CROSS JOIN st),
    in1 AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(floor(CAST(r.q AS DOUBLE) / r.outdeg) AS BIGINT))
                  AS BIGINT) AS sum_in
      FROM edges e JOIN r0 r ON e.src = r.node
      GROUP BY e.dst),
    r1 AS (
      SELECT d.src AS node, d.outdeg,
             CAST(floor({1.0 - _PR_DAMPING} * {_PR_UNIT} / st.n_nodes + 0.5)
                  AS BIGINT)
             + CAST(floor({_PR_DAMPING} * CAST(i.sum_in AS DOUBLE) + 0.5)
                    AS BIGINT) AS q
      FROM deg d JOIN in1 i ON d.src = i.node CROSS JOIN st),
    in2 AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(floor(CAST(r.q AS DOUBLE) / r.outdeg) AS BIGINT))
                  AS BIGINT) AS sum_in
      FROM edges e JOIN r1 r ON e.src = r.node
      GROUP BY e.dst),
    r2 AS (
      SELECT i.node,
             CAST(floor({1.0 - _PR_DAMPING} * {_PR_UNIT} / st.n_nodes + 0.5)
                  AS BIGINT)
             + CAST(floor({_PR_DAMPING} * CAST(i.sum_in AS DOUBLE) + 0.5)
                    AS BIGINT) AS q
      FROM in2 i CROSS JOIN st)
    SELECT (node - 1) // 2 AS s_suppkey, q AS rank_pico
    FROM r2 WHERE node % 2 = 1
    """,
    doc="PageRank, two power iterations, EXACT — the web-graph authority "
    "signal curation pipelines use to prioritize crawl sources (the "
    "CommonCrawl harmonic/PageRank rankings). Graph: the bipartite "
    "customer<->supplier trade graph (distinct (custkey, suppkey) pairs "
    "via orders |><| lineitem; node id = 2k / 2k+1 disambiguation), "
    "edges in both directions so every node has in- and out-degree >= "
    "1 (no dangling-mass term needed). All score mass lives on an int64 "
    "pico-unit grid: each round's per-edge share is floor(q/outdeg) "
    "(exact double division of ints < 2^53, identically rounded on "
    "both engines), the incoming SUM is an associative integer sum, "
    "and the damping mix floor(0.15*U/N + 0.5) + floor(0.85*sum_in + "
    "0.5) rounds the same everywhere — bit-identical ranks with no "
    "libm at all. Scale shape (the canonical distributed PageRank): "
    "per round, scores join edges ON src (hash equi-join; at web scale "
    "both sides are huge and hash-partition — nothing is broadcast) "
    "then aggregate ON dst; the degree relation is computed once. Two "
    "unrolled rounds keep the oracle a finite SQL pipeline, same "
    "convention as kmeans_two_rounds.",
)
def pagerank_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cnode").alias("src"), F.col("snode").alias("dst")
    ).unionAll(pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst")))
    # One graph pass feeds both rounds; avoid recomputing the orders|><|
    # lineitem distinct.
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    st = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    base = F.floor(
        F.lit(1.0 - _PR_DAMPING) * F.lit(float(_PR_UNIT)) / F.col("n_nodes")
        + F.lit(0.5)
    ).cast("long")

    def spread(scores: DataFrame) -> DataFrame:
        """(node, outdeg, q) -> (node, sum_in): one equi-join + one agg."""
        share = F.floor(F.col("q").cast("double") / F.col("outdeg")).cast("long")
        return (
            edges.join(scores.withColumnRenamed("node", "src"), "src")
            .select("dst", share.alias("share"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").cast("long").alias("sum_in"))
        )

    r0 = deg.join(F.broadcast(st)).select(
        F.col("src").alias("node"),
        "outdeg",
        F.floor(F.lit(float(_PR_UNIT)) / F.col("n_nodes")).cast("long").alias("q"),
    )
    damp = F.floor(
        F.lit(_PR_DAMPING) * F.col("sum_in").cast("double") + F.lit(0.5)
    ).cast("long")
    r1 = (
        deg.withColumnRenamed("src", "node")
        .join(spread(r0), "node")
        .join(F.broadcast(st))
        .select("node", "outdeg", (base + damp).alias("q"))
    )
    r2 = spread(r1).join(F.broadcast(st)).select(
        "node", (base + damp).alias("q")
    )
    return r2.filter(F.col("node") % 2 == 1).select(
        ((F.col("node") - 1) / 2).cast("long").alias("s_suppkey"),
        F.col("q").alias("rank_pico"),
    )


# --------------------------------------------------------------------------
# BPE merge-pair counting — one tokenizer-training round at corpus scale
# --------------------------------------------------------------------------

_BPE_TOP_K = 20


@register(
    "bpe_top_merges",
    f"""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
    v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM words GROUP BY word),
    p AS (
      SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, cnt
      FROM v, unnest(range(1, len(word))) AS u(i)
      WHERE len(word) >= 2),
    agg AS (
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM p GROUP BY a, b)
    SELECT a, b, pair_count,
           CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, a, b)
                AS BIGINT) AS merge_rank
    FROM (SELECT a, b, pair_count FROM agg
          ORDER BY pair_count DESC, a, b LIMIT {_BPE_TOP_K})
    """,
    doc="One BPE tokenizer-training round (Sennrich et al. 2016) at "
    "corpus scale: count every adjacent symbol pair over the initial "
    "character alphabet, weighted by word frequency, and emit the top-"
    f"{_BPE_TOP_K} merge candidates under the total order (count DESC, "
    "pair ASC) — the pair a real trainer would merge first, plus the "
    "runner-up queue. The pair stream is generated from the VOCABULARY "
    "relation (distinct words x their counts), not the raw token "
    "stream — the standard trick that makes BPE training corpus-size-"
    "independent: a 100 TB corpus has a few-hundred-million-row vocab, "
    "and each training round is one narrow transform+explode over it "
    "plus one (a, b) hash agg. Top-k = sort+limit -> "
    "TakeOrderedAndProject (never a global sort of the pair relation); "
    "the final rank numbers 20 rows.",
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    v = words.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    seq = F.sequence(F.lit(1), F.length("word") - 1)
    pairs = v.filter(F.length("word") >= 2).select(
        "cnt",
        F.explode(
            F.transform(
                seq,
                lambda i: F.struct(
                    F.col("word").substr(i, F.lit(1)).alias("a"),
                    F.col("word").substr(i + 1, F.lit(1)).alias("b"),
                ),
            )
        ).alias("p"),
    )
    agg = pairs.groupBy(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    ).agg(F.sum("cnt").cast("long").alias("pair_count"))
    top = agg.orderBy(
        F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(_BPE_TOP_K)
    rank = F.row_number().over(
        Window.orderBy(F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc())
    )
    return top.select("a", "b", "pair_count", rank.cast("long").alias("merge_rank"))


# --------------------------------------------------------------------------
# audio frame-energy pipeline — decode → feature kernel → Spark aggregation
# --------------------------------------------------------------------------


@register(
    "multimodal_audio_energy",
    """
    WITH f AS (
      SELECT d.doc_id, i // 16 AS frame_idx,
             CAST(SUM(((d.doc_id * 7 + i) % 200 - 100)
                      * ((d.doc_id * 7 + i) % 200 - 100)) AS BIGINT)
               AS energy
      FROM documents d, range(96) t(i)
      WHERE d.doc_id < 200
      GROUP BY d.doc_id, i // 16),
    ranked AS (
      SELECT doc_id, frame_idx, energy,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY energy DESC, frame_idx ASC) AS rn,
             CAST(SUM(energy) OVER (PARTITION BY doc_id) AS BIGINT)
               AS total_energy
      FROM f)
    SELECT doc_id, frame_idx AS peak_frame_idx, energy AS peak_energy,
           total_energy
    FROM ranked WHERE rn = 1
    """,
    doc="REAL audio feature-extraction pipeline: PCM synthesized from "
    "doc_id (int16 samples ((doc_id*7+i)%200)-100, 96 samples) → "
    "encode_wav → wav_frame_energies (decode, reinterpret as int16, "
    "exact int64 sum-of-squares per 16-sample frame, Arrow-batched "
    "mapInPandas) → SPARK-side aggregation: per-doc peak frame (total "
    "order energy DESC, frame_idx ASC) and total energy. The "
    "decode-then-aggregate split is the shape a VAD/loudness gate runs "
    "at corpus scale: the Python stage is a narrow per-payload kernel, "
    "every cross-row step (ranking, totals) stays relational. The "
    "sample formula is arithmetic on doc_id, so the SQL oracle "
    "recomputes the energies without any codec.",
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    import pandas as pd

    from kinesis_log_watcher_spark.functions.imagecodec import encode_wav
    from kinesis_log_watcher_spark.operators.multimodal import frame_energies

    n_samples = 96

    def synth(batches):
        for pdf in batches:
            payloads = [
                encode_wav(
                    b"".join(
                        struct.pack("<h", (int(d) * 7 + i) % 200 - 100)
                        for i in range(n_samples)
                    ),
                    channels=1,
                    sample_width=2,
                    frame_rate=16000,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )
    wavs = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    frames = frame_energies(wavs, samples_per_frame=16)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("energy").desc(), F.col("frame_idx").asc()
    )
    ranked = frames.select(
        "doc_id",
        "frame_idx",
        "energy",
        F.row_number().over(w).alias("rn"),
        F.sum("energy").over(Window.partitionBy("doc_id")).cast("long").alias(
            "total_energy"
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("frame_idx").alias("peak_frame_idx"),
        F.col("energy").alias("peak_energy"),
        "total_energy",
    )


# --------------------------------------------------------------------------
# incremental corpus update — dedup a new batch against a stored index
# --------------------------------------------------------------------------


@register(
    "incremental_dedup_update",
    """
    WITH snap AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 300),
    batch AS (
      SELECT doc_id, source, md5(text) AS fp
      FROM documents WHERE doc_id >= 300),
    ranked AS (
      SELECT b.doc_id, b.source,
             (b.fp IN (SELECT fp FROM snap)) AS dup_vs_index,
             ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
      FROM batch b)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(CASE WHEN dup_vs_index THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_index,
           CAST(SUM(CASE WHEN (NOT dup_vs_index) AND rn > 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
           CAST(SUM(CASE WHEN (NOT dup_vs_index) AND rn = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
    FROM ranked GROUP BY source
    """,
    doc="Incremental corpus update — the lifecycle a crawl pipeline runs "
    "every refresh: the EXISTING corpus's exact-dedup fingerprint index "
    "(distinct md5(text), docs < 300) is built once, written to parquet, "
    "and RELOADED; the new batch (docs >= 300) is then admitted against "
    "the stored index (dup-vs-index) plus first-occurrence dedup within "
    "the batch itself (keep lowest doc_id per fingerprint), reported as "
    "per-source admission counts. Persistence is result-invariant, so "
    "the oracle restates the logic without the file round trip (same "
    "convention as ann_ivf_persisted). Scale shape: the index relation "
    "is fingerprint-keyed parquet (billions of rows at 100 TB) and the "
    "membership test is a fp equi-join — AQE broadcasts the batch side "
    "when it is the small one; the within-batch window shuffles only "
    "the batch. Nothing rescans or rewrites the historical corpus.",
)
def incremental_dedup_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    snap = docs.filter(F.col("doc_id") < 300).select("fp").distinct()
    path = scratch_dir(prefix="dedup_idx_") + "/fingerprints"
    snap.write.mode("overwrite").parquet(path)
    stored = spark.read.schema("fp string").parquet(path)

    batch = docs.filter(F.col("doc_id") >= 300)
    marked = batch.join(
        stored.withColumn("_hit", F.lit(1)), "fp", "left"
    ).withColumn("dup_vs_index", F.col("_hit").isNotNull())
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    ranked = marked.select("doc_id", "source", "dup_vs_index", rn.alias("rn"))

    def n(cond, alias):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(alias)

    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_batch"),
        n(F.col("dup_vs_index"), "n_dup_index"),
        n(~F.col("dup_vs_index") & (F.col("rn") > 1), "n_dup_batch"),
        n(~F.col("dup_vs_index") & (F.col("rn") == 1), "n_admitted"),
    )


# --------------------------------------------------------------------------
# image near-dup detection — real codec → sign-LSH signature → exact verify
# --------------------------------------------------------------------------

_IMG_ND_DIMS = 192  # 8x8 RGB
_IMG_ND_PROJ = 8
_IMG_ND_THRESHOLD = 16  # max squared-L2 between near-dup pixel vectors


@register(
    "multimodal_image_neardup",
    f"""
    WITH px AS (
      SELECT d.doc_id, i,
             CASE WHEN i = 0
                  THEN ((d.doc_id % 50) * 37 + (d.doc_id // 50)) % 256
                  ELSE ((d.doc_id % 50) * 37 + i * 11) % 256 END AS px
      FROM documents d, range({_IMG_ND_DIMS}) t(i)
      WHERE d.doc_id < 200),
    proj AS (
      SELECT idx // {_IMG_ND_DIMS} AS j, idx % {_IMG_ND_DIMS} AS i,
             CASE WHEN substr(md5((idx // {_IMG_ND_DIMS}) || ':'
                                  || (idx % {_IMG_ND_DIMS})), 1, 1) < '8'
                  THEN 1 ELSE -1 END AS s
      FROM range({_IMG_ND_PROJ * _IMG_ND_DIMS}) t(idx)),
    dots AS (
      SELECT px.doc_id, proj.j,
             CAST(SUM(px.px * proj.s) AS BIGINT) AS dot
      FROM px JOIN proj USING (i) GROUP BY px.doc_id, proj.j),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN dot >= 0 THEN (1 << j) ELSE 0 END)
                  AS BIGINT) AS sig
      FROM dots GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS img_a, b.doc_id AS img_b
      FROM sig a JOIN sig b ON a.sig = b.sig AND a.doc_id < b.doc_id)
    SELECT p.img_a, p.img_b,
           CAST(SUM((pa.px - pb.px) * (pa.px - pb.px)) AS BIGINT) AS l2_q
    FROM pairs p
    JOIN px pa ON pa.doc_id = p.img_a
    JOIN px pb ON pb.doc_id = p.img_b AND pb.i = pa.i
    GROUP BY p.img_a, p.img_b
    HAVING SUM((pa.px - pb.px) * (pa.px - pb.px)) <= {_IMG_ND_THRESHOLD}
    """,
    doc="IMAGE near-duplicate detection end-to-end through the REAL "
    "codec: 200 synthetic 8x8 RGB images in 50 groups of 4 "
    "near-identical variants (only pixel 0 differs, by the group "
    "residue) are PNG-encoded, decoded back to raw pixels "
    "(functions/imagecodec.py inflate+unfilter, Arrow-batched "
    "mapInPandas), then near-dupped RELATIONALLY: 8 engine-portable "
    "sign projections (s(j,i) = +-1 from md5(j:i) — no embedded "
    "matrix) give an 8-bit signature, signature equality generates "
    "candidate pairs (never all-pairs — the sign-LSH bucket join from "
    "dedup_embedding_cosine, applied to pixels), and an exact integer "
    "squared-L2 verify on the candidate pairs keeps true near-dups. "
    "The oracle recomputes the pixels arithmetically — the codec round "
    "trip must be the identity for the hashes to match, so the PNG "
    "path itself is oracle-verified. Scale shape: decode is a narrow "
    "map; the projection relation is 1536 rows broadcast; signatures "
    "shuffle once on sig; the verify joins only candidate pairs back "
    "to the (doc, i) pixel relation.",
)
def multimodal_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from kinesis_log_watcher_spark.functions.imagecodec import (
        decode_png,
        encode_png,
    )

    D, P = _IMG_ND_DIMS, _IMG_ND_PROJ

    def synth_decode(batches):
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            vals: list[int] = []
            for d in pdf["doc_id"]:
                d = int(d)
                pix = bytes(
                    ((d % 50) * 37 + (d // 50)) % 256
                    if i == 0
                    else ((d % 50) * 37 + i * 11) % 256
                    for i in range(D)
                )
                # real round trip: encode, then decode back to raw pixels
                _w, _h, _ch, raw = decode_png(encode_png(pix, 8, 8, 3))
                arr = np.frombuffer(raw, dtype=np.uint8)
                ids.extend([d] * D)
                idxs.extend(range(D))
                vals.extend(int(v) for v in arr)
            yield pd.DataFrame({"doc_id": ids, "i": idxs, "px": vals})

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 200)
    )
    # Three subtrees consume the decoded pixels (signature path + both
    # sides of the exact verify); persist so the codec kernel runs once.
    px = docs.mapInPandas(
        synth_decode, "doc_id bigint, i bigint, px bigint"
    ).persist(StorageLevel.MEMORY_AND_DISK)

    proj = spark.range(P * D).select(
        (F.col("id") / D).cast("long").alias("j"),
        (F.col("id") % D).alias("i"),
        F.when(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        (F.col("id") / D).cast("long"),
                        F.col("id") % D,
                    )
                ),
                1,
                1,
            )
            < "8",
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    dots = (
        px.join(F.broadcast(proj), "i")
        .groupBy("doc_id", "j")
        .agg(F.sum(F.col("px") * F.col("s")).cast("long").alias("dot"))
    )
    sig = dots.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("dot") >= 0,
                F.expr("shiftleft(1, cast(j as int))"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("sig")
    )
    a = sig.select(F.col("doc_id").alias("img_a"), "sig")
    b = sig.select(F.col("doc_id").alias("img_b"), "sig")
    pairs = a.join(b, "sig").filter(F.col("img_a") < F.col("img_b")).select(
        "img_a", "img_b"
    )
    pa = px.select(F.col("doc_id").alias("img_a"), "i", F.col("px").alias("pxa"))
    pb = px.select(F.col("doc_id").alias("img_b"), "i", F.col("px").alias("pxb"))
    diff2 = (F.col("pxa") - F.col("pxb")) * (F.col("pxa") - F.col("pxb"))
    return (
        pairs.join(pa, "img_a")
        .join(pb, ["img_b", "i"])
        .groupBy("img_a", "img_b")
        .agg(F.sum(diff2).cast("long").alias("l2_q"))
        .filter(F.col("l2_q") <= _IMG_ND_THRESHOLD)
    )


# --------------------------------------------------------------------------
# dedup policy variant: keep the LONGEST member of each duplicate group
# --------------------------------------------------------------------------


@register(
    "dedup_keep_longest",
    """
    WITH fp AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(list_slice(string_split(lower(text), ' '),
                                            1, 8), ' ')) AS head_fp
      FROM documents),
    ranked AS (
      SELECT doc_id, n_chars, head_fp,
             ROW_NUMBER() OVER (PARTITION BY head_fp
                                ORDER BY n_chars DESC, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY head_fp) AS BIGINT)
               AS group_size
      FROM fp)
    SELECT doc_id, group_size, CAST(n_chars AS BIGINT) AS kept_chars
    FROM ranked
    WHERE rn = 1 AND group_size > 1
    """,
    doc="Dedup KEEP-LONGEST policy: duplicate groups keyed by the "
    "first-8-token head fingerprint — the truncation canonicalization: "
    "near-identical scrapes usually share their opening and differ by "
    "where they were cut off — keep their longest member (n_chars "
    "DESC, doc_id tiebreak) instead of the first-seen one, since the "
    "longest copy carries the most content. Emits one row per "
    "non-trivial group (its keeper + group size). Same one-shuffle "
    "shape as keep-first: a window over the fingerprint key; only the "
    "ORDER BY changes — policy is orthogonal to the grouping "
    "machinery.",
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    head = F.md5(
        F.concat_ws(
            " ", F.slice(F.split(F.lower(F.col("text")), " "), 1, 8)
        )
    )
    fp = docs.select("doc_id", "n_chars", head.alias("head_fp"))
    w = Window.partitionBy("head_fp")
    rn = F.row_number().over(
        w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    )
    ranked = fp.select(
        "doc_id",
        "n_chars",
        rn.alias("rn"),
        F.count("*").over(w).cast("long").alias("group_size"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("group_size") > 1)).select(
        "doc_id", "group_size", F.col("n_chars").cast("long").alias("kept_chars")
    )


# --------------------------------------------------------------------------
# targeted deletion — right-to-be-forgotten rewrite lifecycle
# --------------------------------------------------------------------------


@register(
    "targeted_deletion_rewrite",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tombstoned_remaining
    FROM documents
    WHERE doc_id % 37 <> 0
    GROUP BY source
    """,
    doc="Targeted deletion (takedown / right-to-be-forgotten): a "
    "tombstone relation (doc_id % 37 = 0 here; in production an "
    "explicit id list) is anti-joined against the corpus, the "
    "survivors are REWRITTEN to parquet, and the result is computed "
    "from the re-read output — per-source kept counts plus an "
    "always-zero audit column proving no tombstoned doc survived the "
    "rewrite. The tombstone side broadcasts (deletion lists are tiny "
    "relative to the corpus); the rewrite touches every partition "
    "once, which is the unavoidable cost of physical deletion in "
    "immutable storage — the same shape at 100 TB, usually scoped to "
    "the partitions the tombstones prune to.",
)
def targeted_deletion_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.staging import scratch_dir

    docs = load(spark, sf_dir, "documents")
    tombstones = docs.filter(F.col("doc_id") % 37 == 0).select("doc_id")
    survivors = docs.join(F.broadcast(tombstones), "doc_id", "left_anti")
    path = scratch_dir(prefix="del_") + "/documents"
    survivors.write.mode("overwrite").parquet(path)
    back = spark.read.schema(docs.schema).parquet(path)
    return back.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum(F.when(F.col("doc_id") % 37 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_tombstoned_remaining"),
    )


# --------------------------------------------------------------------------
# certified distributed top-k — threshold-algorithm (TPUT-style) heavy hitters
# --------------------------------------------------------------------------

_TOPK_SHARDS = 8   # partition groups the candidate pass runs over
_TOPK_LOCAL = 20   # per-shard candidate list length (m)
_TOPK_K = 10       # global answer size


@register(
    "topk_words_certified",
    f"""
    WITH w AS (
      SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_TOPK_SHARDS} AS shard,
             unnest(string_split(lower(text), ' ')) AS word
      FROM documents),
    sc AS (SELECT shard, word, CAST(COUNT(*) AS BIGINT) AS n
           FROM w GROUP BY 1, 2),
    rk AS (SELECT shard, word, n,
                  ROW_NUMBER() OVER (PARTITION BY shard
                                     ORDER BY n DESC, word) AS r
           FROM sc),
    loc AS (SELECT shard, word, n FROM rk WHERE r <= {_TOPK_LOCAL}),
    th AS (SELECT CAST(SUM(t) AS BIGINT) AS bound
           FROM (SELECT shard, MIN(n) AS t FROM loc GROUP BY shard)),
    cand AS (SELECT DISTINCT word FROM loc),
    exact AS (SELECT sc.word, CAST(SUM(sc.n) AS BIGINT) AS total
              FROM sc JOIN cand USING (word) GROUP BY sc.word)
    SELECT word, total, bound, total >= bound AS certified
    FROM exact, th
    ORDER BY total DESC, word LIMIT {_TOPK_K}
    """,
    doc="Certified distributed top-k (the TPUT/three-phase threshold "
    f"algorithm, Cao & Wang 2004): each of {_TOPK_SHARDS} md5-derived "
    f"shard groups contributes its local top-{_TOPK_LOCAL} words plus "
    "its cut-off count; the union is the candidate set, candidates are "
    "re-counted exactly via an equi-join against the per-shard count "
    "relation, and SUM(per-shard cut-offs) is a hard upper bound on ANY "
    "non-candidate word's global count — so every emitted row carries a "
    "machine-checkable certificate (total >= bound) that no unseen word "
    "can outrank it. The 100 TB point: a naive exact top-k global-sorts "
    "the full vocabulary; here the global ordering work is confined to "
    "shards x m candidate rows, the vocabulary-sized relation is "
    "touched only by map-side-partial hash aggs and one candidate "
    "semi-join, and the certificate makes the pruning sound rather "
    "than heuristic. Top-k itself is sort+limit -> "
    "TakeOrderedAndProject.",
)
def topk_words_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % _TOPK_SHARDS
    )
    w = docs.select(
        shard.alias("shard"),
        F.explode(F.split(F.lower("text"), " ")).alias("word"),
    )
    sc = w.groupBy("shard", "word").agg(F.count("*").cast("long").alias("n"))
    sc = sc.persist()
    rk = F.row_number().over(
        Window.partitionBy("shard").orderBy(F.col("n").desc(), F.col("word"))
    )
    loc = sc.select("shard", "word", "n", rk.alias("r")).filter(
        F.col("r") <= _TOPK_LOCAL
    )
    th = (
        loc.groupBy("shard")
        .agg(F.min("n").alias("t"))
        .agg(F.sum("t").cast("long").alias("bound"))
    )
    cand = loc.select("word").distinct()
    exact = (
        sc.join(F.broadcast(cand), "word")
        .groupBy("word")
        .agg(F.sum("n").cast("long").alias("total"))
    )
    out = (
        exact.crossJoin(F.broadcast(th))
        .select(
            "word",
            "total",
            "bound",
            (F.col("total") >= F.col("bound")).alias("certified"),
        )
        .orderBy(F.col("total").desc(), F.col("word"))
        .limit(_TOPK_K)
    )
    return out


# --------------------------------------------------------------------------
# BPE encode application — apply a learned merge table to the corpus
# --------------------------------------------------------------------------

_BPE_APPLY_R = 8  # merges applied, in training-rank order


def _bpe_apply_oracle() -> str:
    """Oracle: the same ranked-merge CTE as bpe_top_merges, the merge
    table applied as chained leftmost-non-overlapping replaces over the
    '|'-delimited symbol string (both engines' replace() scans left to
    right and resumes AFTER each replacement — identical semantics)."""
    s = "'|' || regexp_replace(word, '(.)', '\\1|', 'g')"
    for i in range(1, _BPE_APPLY_R + 1):
        pat = (f"COALESCE((SELECT '|'||a||'|'||b||'|' FROM m "
               f"WHERE merge_rank={i}), chr(1))")
        rep = (f"COALESCE((SELECT '|'||a||b||'|' FROM m "
               f"WHERE merge_rank={i}), chr(1))")
        s = f"replace({s}, {pat}, {rep})"
    return f"""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
    v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM words GROUP BY word),
    p AS (
      SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, cnt
      FROM v, unnest(range(1, len(word))) AS u(i)
      WHERE len(word) >= 2),
    agg AS (
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM p GROUP BY a, b),
    m AS (
      SELECT a, b, ROW_NUMBER() OVER (ORDER BY pair_count DESC, a, b)
               AS merge_rank
      FROM (SELECT a, b, pair_count FROM agg
            ORDER BY pair_count DESC, a, b LIMIT {_BPE_APPLY_R})),
    enc AS (
      SELECT word, cnt, {s} AS s FROM v),
    tok AS (
      SELECT substr(word, 1, 1) AS initial, cnt,
             CAST(len(word) AS BIGINT) AS n_chars,
             CAST(len(s) - len(replace(s, '|', '')) - 1 AS BIGINT) AS n_sym
      FROM enc)
    SELECT initial,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(cnt) AS BIGINT) AS occurrences,
           CAST(SUM(cnt * n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(cnt * n_sym) AS BIGINT) AS tokens_total
    FROM tok GROUP BY initial
    """


def _bpe_encoded_vocab(docs: DataFrame) -> DataFrame:
    """(word, cnt, n_sym): the vocabulary relation with each word's
    post-merge symbol count — the whole BPE-encode pipeline (train one
    round's merge table from pair counts, apply it as boundary-safe
    chained replaces). Shared by the corpus-compression rollup and the
    per-doc token counter, which only equi-join this relation back to
    their word streams."""
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    v = words.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    v = v.persist()
    seq = F.sequence(F.lit(1), F.length("word") - 1)
    pairs = v.filter(F.length("word") >= 2).select(
        "cnt",
        F.explode(
            F.transform(
                seq,
                lambda i: F.struct(
                    F.col("word").substr(i, F.lit(1)).alias("a"),
                    F.col("word").substr(i + 1, F.lit(1)).alias("b"),
                ),
            )
        ).alias("p"),
    )
    agg = pairs.groupBy(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    ).agg(F.sum("cnt").cast("long").alias("pair_count"))
    top = agg.orderBy(
        F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(_BPE_APPLY_R)
    rank = F.row_number().over(
        Window.orderBy(F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc())
    )
    ranked = top.select("a", "b", rank.alias("merge_rank"))
    # The merge table as ONE wide row (broadcast below): rank i -> (a_i, b_i).
    m = ranked.agg(
        *[
            f
            for i in range(1, _BPE_APPLY_R + 1)
            for f in (
                F.max(F.when(F.col("merge_rank") == i, F.col("a"))).alias(f"a{i}"),
                F.max(F.when(F.col("merge_rank") == i, F.col("b"))).alias(f"b{i}"),
            )
        ]
    )
    enc = v.crossJoin(F.broadcast(m))
    s = F.concat(F.lit("|"), F.regexp_replace("word", "(.)", "$1|"))
    # Fewer than R distinct pairs leaves the tail merge columns NULL;
    # replace(s, NULL, ...) would null every encoding, so absent merges
    # fall back to an unmatchable 1-byte pattern (identity replace).
    for i in range(1, _BPE_APPLY_R + 1):
        pat = F.coalesce(
            F.concat(
                F.lit("|"), F.col(f"a{i}"), F.lit("|"), F.col(f"b{i}"), F.lit("|")
            ),
            F.lit("\x01"),
        )
        rep = F.coalesce(
            F.concat(F.lit("|"), F.col(f"a{i}"), F.col(f"b{i}"), F.lit("|")),
            F.lit("\x01"),
        )
        s = F.replace(s, pat, rep)
    return enc.select(
        "word",
        "cnt",
        (F.length(s) - F.length(F.replace(s, F.lit("|"), F.lit(""))) - 1)
        .cast("long")
        .alias("n_sym"),
    )


@register(
    "bpe_encode_compression",
    _bpe_apply_oracle(),
    doc="BPE ENCODING at corpus scale: the merge table learned by the "
    "bpe_top_merges round is applied to every vocabulary word — each "
    "word becomes a '|'-delimited symbol string and each ranked merge "
    "is one leftmost-non-overlapping replace of '|a|b|' with '|ab|' "
    "(delimiters make merges symbol-boundary-safe: a pattern can never "
    "match across two multi-char symbols). Tokenizer application is "
    "where the scale shape matters: encoding runs over the VOCABULARY "
    "relation (corpus-size-independent, the same trick as training) "
    "and per-doc token counts then need only a (word -> n_sym) "
    "equi-join; the merge table itself is a 1-row broadcast — at "
    "100 TB the corpus is never rescanned per merge. Emitted: "
    "per-initial-letter char->token compression rollup, exact int64.",
)
def bpe_encode_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = _bpe_encoded_vocab(docs).select(
        F.substring("word", 1, 1).alias("initial"),
        "cnt",
        F.length("word").cast("long").alias("n_chars"),
        "n_sym",
    )
    return tok.groupBy("initial").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("cnt").cast("long").alias("occurrences"),
        F.sum(F.col("cnt") * F.col("n_chars")).cast("long").alias("chars_total"),
        F.sum(F.col("cnt") * F.col("n_sym")).cast("long").alias("tokens_total"),
    )


# --------------------------------------------------------------------------
# BPE iterated training — k merge rounds, pair table refreshed per round
# --------------------------------------------------------------------------

_BPE_TRAIN_ROUNDS = 6


def _bpe_train_oracle() -> str:
    """Oracle: the same iteration as the Spark side, as chained CTEs —
    round r recounts adjacent-symbol pairs over the round-(r-1) symbol
    strings, takes the argmax under (count DESC, pair ASC), and applies
    it as one leftmost-non-overlapping boundary-delimited replace."""
    ctes = [
        """
    words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
    vocab AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM words GROUP BY word),
    v0 AS (SELECT '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s, cnt
           FROM vocab)"""
    ]
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        ctes.append(f"""
    p{r} AS (
      SELECT l[i] AS a, l[i+1] AS b, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM (SELECT string_split(s, '|') AS l, cnt FROM v{r - 1}) t,
           unnest(range(2, len(l) - 1)) AS u(i)
      GROUP BY 1, 2),
    b{r} AS (SELECT a, b, pair_count FROM p{r}
             ORDER BY pair_count DESC, a, b LIMIT 1),
    v{r} AS (SELECT replace(s,
               (SELECT '|' || a || '|' || b || '|' FROM b{r}),
               (SELECT '|' || a || b || '|' FROM b{r})) AS s, cnt
             FROM v{r - 1})""")
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, a, b, pair_count FROM b{r}"
        for r in range(1, _BPE_TRAIN_ROUNDS + 1)
    )
    return f"WITH {','.join(ctes)}\n    {unions}"


@register(
    "bpe_train_k_rounds",
    _bpe_train_oracle(),
    doc=f"BPE TRAINING end-to-end (Sennrich et al. 2016), "
    f"{_BPE_TRAIN_ROUNDS} iterated merge rounds with the pair table "
    "REFRESHED each round — unlike bpe_top_merges (one counting pass) "
    "this reproduces the real training loop: after '|t|h|' merges into "
    "'|th|', round 2's counts see ('th', 'e') pairs that did not exist "
    "before, so the merge SEQUENCE (pinned per round: round, a, b, "
    "pair_count) is the authentic greedy argmax chain, multi-char "
    "symbols included. Per round on Spark: one explode+hash-agg over "
    "the VOCABULARY symbol strings (corpus-size-independent — the "
    "Sennrich trick), a 1-row TakeOrderedAndProject argmax collected "
    "as driver state (the fitted-model pattern) and re-broadcast as "
    "literals into a boundary-delimited non-overlapping replace "
    "(delimiters make merges symbol-boundary-safe); the round r−1 "
    "vocab cache is unpersisted the moment round r materializes, so "
    "storage holds ONE vocab copy regardless of round count and the "
    "lineage stays linear. At 100 TB the corpus is scanned ONCE to "
    "build the vocab; every round after is narrow work on the vocab "
    "relation.",
)
def bpe_train_k_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    # The iterate relation is vocab-sized (orders of magnitude smaller
    # than the corpus); collapse it to a few partitions once so the 6
    # per-round jobs schedule a handful of tasks instead of 32 near-empty
    # ones. At a 100 TB corpus the vocab is ~1e8 rows — drop the coalesce
    # (or raise it) there; the round structure is unchanged.
    v = vocab.select(
        F.concat(F.lit("|"), F.regexp_replace("word", "(.)", "$1|")).alias("s"),
        "cnt",
    ).coalesce(1).persist()

    # Per round, the learned state is ONE row (the argmax pair) — exactly
    # the fitted-centroids shape of Spark's own iterative trainers, so it
    # lives on the driver and is re-broadcast as string literals. This
    # keeps the vocab lineage LINEAR (one replace per round over the
    # round r−1 cache); the earlier crossJoin(broadcast(argmax)) variant
    # embedded the previous round's plan twice per round, i.e. a 2^k
    # logical-plan blowup that made driver-side re-analysis the
    # bottleneck. The superseded vocab cache is unpersisted as soon as
    # round r materializes, so executor storage holds exactly one vocab
    # copy no matter how many merge rounds run (at k=32k real-tokenizer
    # scale, swap the persist chain for localCheckpoint so analysis cost
    # stays O(1) per round too).
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        syms = F.split("s", "[|]")  # ['', s1, ..., sm, '']
        n = F.size(syms)
        pairs = v.filter(n >= 4).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), n - 2),
                    lambda i: F.struct(
                        F.element_at(syms, i).alias("a"),
                        F.element_at(syms, i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        counts = pairs.groupBy(
            F.col("p.a").alias("a"), F.col("p.b").alias("b")
        ).agg(F.sum("cnt").cast("long").alias("pair_count"))
        best = counts.orderBy(
            F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not best:
            break
        a, b, pc = best[0]["a"], best[0]["b"], int(best[0]["pair_count"])
        merges.append((r, a, b, pc))
        if r == _BPE_TRAIN_ROUNDS:
            break  # final round contributes only its argmax
        prev = v
        v = prev.select(
            F.replace(
                "s", F.lit(f"|{a}|{b}|"), F.lit(f"|{a}{b}|")
            ).alias("s"),
            "cnt",
        ).persist()
        v.count()
        prev.unpersist()
    v.unpersist()

    return spark.createDataFrame(
        merges, "round BIGINT, a STRING, b STRING, pair_count BIGINT"
    )


# --------------------------------------------------------------------------
# ANN quality evaluation — recall@k of the IVF scale path vs exact top-k
# --------------------------------------------------------------------------


@register(
    "ann_ivf_recall",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    anchors AS (SELECT vec_id AS a_id, x AS qx, dim FROM comp WHERE vec_id < 8),
    dots AS (
      SELECT c.vec_id, a_id, {_DOT_DEC.replace('qx', 'a.qx').replace('CAST(x', 'CAST(c.x')} AS dot
      FROM comp c JOIN anchors a USING (dim)
      WHERE c.vec_id >= 8
      GROUP BY c.vec_id, a_id),
    cells AS (
      SELECT vec_id, a_id AS cell FROM (
        SELECT vec_id, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, a_id) AS rn
        FROM dots)
      WHERE rn = 1),
    qcomp AS (
      SELECT vec_id AS q_id, x AS qx, dim FROM comp
      WHERE vec_id >= 10 AND vec_id < 20),
    all_dots AS (
      SELECT q.q_id, c.vec_id, {_DOT_DEC.replace('CAST(x', 'CAST(c.x')} AS dot
      FROM comp c JOIN qcomp q USING (dim)
      WHERE c.vec_id != q.q_id AND c.vec_id >= 8
      GROUP BY q.q_id, c.vec_id),
    exact_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY dot DESC, vec_id) AS rank
        FROM all_dots)
      WHERE rank <= 3),
    ivf_top AS (
      SELECT q_id, vec_id FROM (
        SELECT d.q_id, d.vec_id, d.dot,
               ROW_NUMBER() OVER (PARTITION BY d.q_id
                    ORDER BY d.dot DESC, d.vec_id) AS rank
        FROM all_dots d
        JOIN cells cc ON cc.vec_id = d.vec_id
        JOIN cells qc ON qc.vec_id = d.q_id AND qc.cell = cc.cell)
      WHERE rank <= 3),
    hits AS (
      SELECT e.q_id,
             CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit
      FROM exact_top e
      LEFT JOIN ivf_top i ON i.q_id = e.q_id AND i.vec_id = e.vec_id
      GROUP BY e.q_id)
    SELECT q_id, CAST(3 AS BIGINT) AS k, n_hit,
           n_hit * 1000000 // 3 AS recall_micro
    FROM hits
    """,
    doc="ANN quality EVALUATION: recall@3 of the IVF cell-probe scale "
    "path against the exact brute-force top-3 over the identical query "
    "set, per query — the measurement that justifies shipping an "
    "approximate index (an IVF whose recall nobody measured is not a "
    "scale path). Both rankings reuse the exact-decimal dot relation; "
    "the hit count is a per-query equi-join of the two top-k relations "
    "(never a cross join). At 100 TB the exact side runs on a sampled "
    "query set exactly like this fixed 10-query panel — recall "
    "estimation needs a panel, not the corpus.",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    anchors = comp.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("qx"), "dim"
    )
    dots = exact_dot(
        anchors.select("a_id", "qx", "dim"),
        comp.filter(F.col("vec_id") >= 8),
        "a_id",
        "vec_id",
        exclude_self=False,
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("a_id"))
    cells = (
        dots.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("a_id").alias("cell"))
    )
    qcomp = comp.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("q_id"), F.col("x").alias("qx"), "dim"
    )
    all_dots = exact_dot(
        qcomp, comp.filter(F.col("vec_id") >= 8), "q_id", "vec_id"
    ).persist()
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    exact_top = (
        all_dots.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "vec_id")
    )
    qcells = cells.select(F.col("vec_id").alias("q_id"), F.col("cell").alias("q_cell"))
    ivf_top = (
        all_dots.join(cells, "vec_id")
        .join(F.broadcast(qcells), "q_id")
        .filter(F.col("cell") == F.col("q_cell"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", F.col("vec_id").alias("i_vec"))
    )
    hits = (
        exact_top.join(
            ivf_top,
            (exact_top["q_id"] == ivf_top["q_id"])
            & (exact_top["vec_id"] == ivf_top["i_vec"]),
            "left",
        )
        .groupBy(exact_top["q_id"].alias("q_id"))
        .agg(F.count("i_vec").cast("long").alias("n_hit"))
    )
    return hits.select(
        "q_id",
        F.lit(3).cast("long").alias("k"),
        "n_hit",
        F.expr("n_hit * 1000000 div 3").alias("recall_micro"),
    )


# --------------------------------------------------------------------------
# PMI collocation mining — association scores over the bigram relation
# --------------------------------------------------------------------------

_PMI_MIN_PAIR = 10  # count floor: PMI is unstable on rare pairs
_PMI_TOP_K = 20


@register(
    "word_pair_pmi",
    f"""
    WITH w AS (
      SELECT string_split(lower(text), ' ') AS words FROM documents),
    big AS (
      SELECT words[i] AS a, words[i + 1] AS b
      FROM w, unnest(range(1, len(words))) t(i)),
    pc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
           FROM big GROUP BY a, b),
    la AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS ca FROM pc GROUP BY a),
    rb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS cb FROM pc GROUP BY b),
    tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM pc),
    scored AS (
      SELECT pc.a, pc.b, pc.n_ab,
             CAST(floor(ln(CAST(pc.n_ab * tot.n AS DOUBLE)
                           / CAST(la.ca * rb.cb AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS pmi_nano
      FROM pc JOIN la USING (a) JOIN rb USING (b), tot
      WHERE pc.n_ab >= {_PMI_MIN_PAIR})
    SELECT a, b, n_ab, pmi_nano
    FROM scored
    ORDER BY pmi_nano DESC, a, b LIMIT {_PMI_TOP_K}
    """,
    doc="PMI collocation mining (Church & Hanks 1990): pointwise mutual "
    "information of adjacent word pairs, marginals and total taken from "
    "the SAME bigram relation so every probability shares one "
    f"denominator; pairs under a {_PMI_MIN_PAIR}-count floor are "
    "dropped (PMI diverges on rare events). Determinism: counts and "
    "marginal products are exact int64, the ratio is ONE IEEE division, "
    "ln() is nano-quantized (the unigram_logprob_buckets convention; "
    "int64 products hold to ~1e9 bigrams — past that the marginals "
    "quantize in double). Shape at 100 TB: one narrow explode, two "
    "map-side-partial hash aggs (pair + marginals), vocab-sized "
    "equi-joins, 1-row total broadcast, TakeOrdered top-k — the "
    "bigram relation never sorts globally.",
)
def word_pair_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.split(F.lower("text"), " ").alias("words"))
    seq = F.sequence(F.lit(1), F.size("words") - 1)
    big = words.filter(F.size("words") >= 2).select(
        F.explode(
            F.transform(
                seq,
                lambda i: F.struct(
                    F.element_at("words", i).alias("a"),
                    F.element_at("words", i + 1).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    pc = big.groupBy("a", "b").agg(F.count("*").cast("long").alias("n_ab"))
    pc = pc.persist()
    la = pc.groupBy("a").agg(F.sum("n_ab").cast("long").alias("ca"))
    rb = pc.groupBy("b").agg(F.sum("n_ab").cast("long").alias("cb"))
    tot = pc.agg(F.sum("n_ab").cast("long").alias("n"))
    scored = (
        pc.filter(F.col("n_ab") >= _PMI_MIN_PAIR)
        .join(la, "a")
        .join(rb, "b")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.floor(
        F.log(
            (F.col("n_ab") * F.col("n")).cast("double")
            / (F.col("ca") * F.col("cb")).cast("double")
        )
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        scored.select("a", "b", "n_ab", pmi.alias("pmi_nano"))
        .orderBy(F.col("pmi_nano").desc(), "a", "b")
        .limit(_PMI_TOP_K)
    )


# --------------------------------------------------------------------------
# LSH quality evaluation — candidate recall vs exact Jaccard, by similarity
# --------------------------------------------------------------------------

_RECALL_PANEL = 200  # doc_id bound of the evaluation panel


@register(
    "lsh_neardup_recall",
    f"""
    WITH {_SH_SQL},
    shp AS (SELECT * FROM sh WHERE doc_id < {_RECALL_PANEL}),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shp GROUP BY doc_id),
    rare AS (SELECT shingle FROM shp GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT shp.doc_id, shp.shingle FROM shp JOIN rare USING (shingle)),
    tp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM pruned a JOIN pruned b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT doc_a, doc_b,
             (common / (sa.sz + sb.sz - common)) AS jaccard
      FROM tp
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE (common / (sa.sz + sb.sz - common)) >= 0.02),
    mh AS (SELECT doc_id, {_MINHASH_COLS} FROM shp GROUP BY doc_id),
    sigs AS (SELECT doc_id, {_BAND_SIGS} FROM mh),
    bands AS (
{_BAND_UNION}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id)
    SELECT CAST(floor(t.jaccard * 10) AS BIGINT) AS sim_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(c.doc_a) AS BIGINT) AS n_hit,
           CAST(COUNT(c.doc_a) AS BIGINT) * 1000000 // COUNT(*) AS recall_micro
    FROM truth t
    LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY 1
    """,
    doc="LSH quality EVALUATION: recall of the MinHash-LSH candidate "
    "generator against the exact shingle-Jaccard spectrum (>= 0.02) on "
    f"a {_RECALL_PANEL}-doc panel, bucketed by similarity — the "
    "empirical S-curve that justifies the band geometry (recall must "
    "climb toward 1 as similarity rises; a geometry nobody measured is "
    "not a scale path). Truth pairs come from the panel-restricted "
    "inverted-index join (equi-join, DF-capped — never a cross join), "
    "candidates from the identical banded-signature join the "
    "production dedup uses; hits are a pair-key equi-join of the two "
    "relations. The panel is the point at 100 TB: exact truth is "
    "affordable on a sampled panel, and the measured per-bucket recall "
    "transfers to the full corpus run.",
)
def lsh_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _RECALL_PANEL
    )
    shp_h = exploded_shingles(docs, hashed=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    truth = jaccard_pairs(shp_h, threshold=0.02, max_doc_freq=100)
    sig = minhash_signature(exploded_shingles(docs), _NUM_HASHES).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = lsh_bands(sig, _NUM_HASHES, _BANDS)
    cand = lsh_candidate_pairs(bands).select(
        F.col("doc_a").alias("c_a"), F.col("doc_b").alias("c_b")
    )
    hit = truth.join(
        cand,
        (truth["doc_a"] == cand["c_a"]) & (truth["doc_b"] == cand["c_b"]),
        "left",
    )
    bucket = F.floor(F.col("jaccard") * 10).cast("long")
    return (
        hit.groupBy(bucket.alias("sim_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_truth"),
            F.count("c_a").cast("long").alias("n_hit"),
        )
        .select(
            "sim_bucket",
            "n_truth",
            "n_hit",
            F.expr("n_hit * 1000000 div n_truth").alias("recall_micro"),
        )
    )


def _bpe_doc_oracle() -> str:
    """Per-source token counts through the encoded vocabulary: the same
    trained-merge CTE chain, joined back to the document word stream."""
    s = "'|' || regexp_replace(word, '(.)', '\\1|', 'g')"
    for i in range(1, _BPE_APPLY_R + 1):
        pat = (f"COALESCE((SELECT '|'||a||'|'||b||'|' FROM m "
               f"WHERE merge_rank={i}), chr(1))")
        rep = (f"COALESCE((SELECT '|'||a||b||'|' FROM m "
               f"WHERE merge_rank={i}), chr(1))")
        s = f"replace({s}, {pat}, {rep})"
    return f"""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
    v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM words GROUP BY word),
    p AS (
      SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, cnt
      FROM v, unnest(range(1, len(word))) AS u(i)
      WHERE len(word) >= 2),
    agg AS (
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM p GROUP BY a, b),
    m AS (
      SELECT a, b, ROW_NUMBER() OVER (ORDER BY pair_count DESC, a, b)
               AS merge_rank
      FROM (SELECT a, b, pair_count FROM agg
            ORDER BY pair_count DESC, a, b LIMIT {_BPE_APPLY_R})),
    enc AS (
      SELECT word, {s} AS es FROM v),
    tok AS (
      SELECT word,
             CAST(len(es) - len(replace(es, '|', '')) - 1 AS BIGINT) AS n_sym
      FROM enc),
    docw AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS words_total,
           CAST(SUM(length(d.word)) AS BIGINT) AS chars_total,
           CAST(SUM(t.n_sym) AS BIGINT) AS tokens_total
    FROM docw d JOIN tok t USING (word)
    GROUP BY source
    """


@register(
    "doc_bpe_token_counts",
    _bpe_doc_oracle(),
    doc="Per-source BPE token budgets: the encoded vocabulary relation "
    "(word -> post-merge symbol count, _bpe_encoded_vocab) equi-joined "
    "back to the document word stream and rolled up per source — the "
    "claim bpe_encode_compression's design makes ('per-doc token "
    "counts need only a (word -> n_sym) equi-join') executed: the "
    "expensive encode runs once over the corpus-size-independent "
    "vocabulary, and corpus-wide token accounting (the number that "
    "prices a training run) is one vocab-sized join + rollup. The "
    "join key is the word itself — well-spread, map-side-partial "
    "aggregated on both sides.",
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = _bpe_encoded_vocab(docs).select("word", "n_sym")
    docw = docs.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    return (
        docw.join(tok, "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("words_total"),
            F.sum(F.length("word")).cast("long").alias("chars_total"),
            F.sum("n_sym").cast("long").alias("tokens_total"),
        )
    )


# --------------------------------------------------------------------------
# product quantization — PQ codes + asymmetric distance computation (ADC)
# --------------------------------------------------------------------------

_PQ_M = 8        # subspaces (64 dims -> 8 per subspace)
_PQ_SUBDIM = 8
_PQ_K = 3        # answer size per query
_PQ_Q = "CAST(floor(CAST({0} AS DOUBLE) * 10000000 + 0.5) AS BIGINT)"


@register(
    "ann_pq_adc_topk",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    qcomp AS (
      SELECT vec_id, (dim - 1) // {_PQ_SUBDIM} AS sub, dim,
             {_PQ_Q.format('x')} AS qx
      FROM comp),
    cb AS (SELECT vec_id AS a_id, sub, dim, qx FROM qcomp WHERE vec_id < 8),
    d2 AS (
      SELECT v.vec_id, v.sub, c.a_id,
             CAST(SUM((v.qx - c.qx) * (v.qx - c.qx)) AS BIGINT) AS d2
      FROM qcomp v JOIN cb c ON c.dim = v.dim AND c.sub = v.sub
      WHERE v.vec_id >= 8
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, sub, a_id AS code FROM (
        SELECT vec_id, sub, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, a_id) AS rn
        FROM d2)
      WHERE rn = 1),
    lut AS (
      SELECT vec_id AS q_id, sub, a_id, d2
      FROM d2 WHERE vec_id >= 10 AND vec_id < 20),
    adc AS (
      SELECT l.q_id, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS est_d2
      FROM codes c JOIN lut l ON l.sub = c.sub AND l.a_id = c.code
      WHERE c.vec_id != l.q_id
      GROUP BY 1, 2)
    SELECT q_id, vec_id AS neighbor_id, est_d2, rank FROM (
      SELECT q_id, vec_id, est_d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY est_d2, vec_id) AS BIGINT) AS rank
      FROM adc)
    WHERE rank <= {_PQ_K}
    """,
    doc="Product quantization + ADC (Jégou et al. 2011): 64-dim vectors "
    f"split into {_PQ_M} subspaces, each subvector coded as its nearest "
    "codebook entry (deterministic anchor stand-ins, the IVF "
    "convention; exact int64 squared-L2 on 1e7-quantized components), "
    "then queries rank candidates by ASYMMETRIC distance — the "
    "query-to-codeword lookup table replaces any touch of the raw "
    f"corpus vectors: estimation is {_PQ_M} int adds per candidate "
    "instead of a 64-dim product. The 100 TB shape: codebooks and the "
    "per-query LUT (|Q|x{_PQ_M}x8 rows) broadcast; the corpus "
    "contributes only its code relation (M small ints per vector — the "
    "~32x memory shrink that makes billion-vector search fit); encode "
    "is one broadcast-join agg pass. All-int64 arithmetic end to end, "
    "so both engines rank identically.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    qcomp = comp.select(
        "vec_id",
        ((F.col("dim") - 1) / _PQ_SUBDIM).cast("long").alias("sub"),
        "dim",
        quantize(F.col("x")).alias("qx"),
    )
    cb = qcomp.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"), "sub", "dim", F.col("qx").alias("aqx")
    )
    d2 = (
        qcomp.filter(F.col("vec_id") >= 8)
        .join(F.broadcast(cb), ["sub", "dim"])
        .groupBy("vec_id", "sub", "a_id")
        .agg(
            F.sum((F.col("qx") - F.col("aqx")) * (F.col("qx") - F.col("aqx")))
            .cast("long")
            .alias("d2")
        )
    )
    d2 = d2.persist()
    w_code = Window.partitionBy("vec_id", "sub").orderBy("d2", "a_id")
    codes = (
        d2.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", F.col("a_id").alias("code"))
    )
    lut = d2.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("q_id"), "sub", F.col("a_id").alias("code"),
        F.col("d2").alias("ld2"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("ld2").cast("long").alias("est_d2"))
    )
    w = Window.partitionBy("q_id").orderBy("est_d2", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "est_d2", "rank")
    )


# --------------------------------------------------------------------------
# IVF multi-probe — recall knob: each query probes its top-P cells
# --------------------------------------------------------------------------

_IVF_PROBES = 2


@register(
    "ann_ivf_multiprobe",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    anchors AS (SELECT vec_id AS a_id, x AS qx, dim FROM comp WHERE vec_id < 8),
    dots AS (
      SELECT c.vec_id, a_id, {_DOT_DEC.replace('qx', 'a.qx').replace('CAST(x', 'CAST(c.x')} AS dot
      FROM comp c JOIN anchors a USING (dim)
      WHERE c.vec_id >= 8
      GROUP BY c.vec_id, a_id),
    ranked AS (
      SELECT vec_id, a_id, ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY dot DESC, a_id) AS rn
      FROM dots),
    cells AS (SELECT vec_id, a_id AS cell FROM ranked WHERE rn = 1),
    qprobes AS (
      SELECT vec_id AS q_id, a_id AS cell FROM ranked
      WHERE rn <= {_IVF_PROBES} AND vec_id >= 10 AND vec_id < 20),
    qcomp AS (
      SELECT vec_id AS q_id, x AS qx, dim FROM comp
      WHERE vec_id >= 10 AND vec_id < 20),
    cand AS (
      SELECT q.q_id, c.vec_id, {_DOT_DEC.replace('CAST(x', 'CAST(c.x')} AS dot
      FROM comp c JOIN qcomp q USING (dim)
      JOIN cells cc ON cc.vec_id = c.vec_id
      JOIN qprobes qp ON qp.q_id = q.q_id AND qp.cell = cc.cell
      WHERE c.vec_id != q.q_id AND c.vec_id >= 8
      GROUP BY q.q_id, c.vec_id)
    SELECT q_id, vec_id AS neighbor_id, dot, rank FROM (
      SELECT q_id, vec_id, dot,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
      FROM cand)
    WHERE rank <= 3
    """,
    doc=f"IVF MULTI-PROBE: each query scans its top-{_IVF_PROBES} "
    "anchor cells instead of one — the standard recall knob (cell "
    "boundaries cut true neighborhoods; probing the runner-up cell "
    "recovers most of what single-probe loses for ~2x candidates "
    "scanned, still a small fraction of the corpus). Identical index "
    "relation as ann_ivf_topk — multi-probe is a QUERY-TIME choice, "
    "the index never changes; the probe set is a per-query 2-row "
    "relation joined into the candidate equi-join. Superset property "
    "vs single-probe is pinned in tests.",
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    anchors = comp.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("qx"), "dim"
    )
    dots = exact_dot(
        anchors.select("a_id", "qx", "dim"),
        comp.filter(F.col("vec_id") >= 8),
        "a_id",
        "vec_id",
        exclude_self=False,
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.col("dot").desc(), F.col("a_id"))
    ranked = dots.withColumn("rn", F.row_number().over(w_cell)).persist()
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("a_id").alias("cell")
    )
    qprobes = ranked.filter(
        (F.col("rn") <= _IVF_PROBES)
        & (F.col("vec_id") >= 10)
        & (F.col("vec_id") < 20)
    ).select(F.col("vec_id").alias("q_id"), F.col("a_id").alias("q_cell"))
    qcomp = comp.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("q_id"), F.col("x").alias("qx"), "dim"
    )
    cand_dots = exact_dot(qcomp, comp.filter(F.col("vec_id") >= 8), "q_id", "vec_id")
    cand = (
        cand_dots.join(cells, "vec_id")
        .join(F.broadcast(qprobes), "q_id")
        .filter(F.col("cell") == F.col("q_cell"))
        .select("q_id", "vec_id", "dot")
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "dot", "rank")
    )


# --------------------------------------------------------------------------
# IVF-PQ — coarse cell probe + PQ-coded ranking (the billion-scale recipe)
# --------------------------------------------------------------------------


def _ivfpq_adc(emb: DataFrame) -> DataFrame:
    """(q_id, vec_id, est_d2): the IVF-PQ asymmetric-distance candidate
    relation — coarse cell pruning then PQ-code ADC estimation, every
    quantity exact int64. Shared by ann_ivfpq_topk (ranks it directly)
    and ann_two_stage_rerank (uses it as the stage-1 shortlist)."""
    comp = exploded_components(emb, "vec_id")
    qc = comp.select(
        "vec_id",
        ((F.col("dim") - 1) / _PQ_SUBDIM).cast("long").alias("sub"),
        "dim",
        quantize(F.col("x")).alias("qx"),
    )
    anchors = qc.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"), "sub", "dim", F.col("qx").alias("aqx")
    )
    corpus = qc.filter(F.col("vec_id") >= 8)
    sq = (F.col("qx") - F.col("aqx")) * (F.col("qx") - F.col("aqx"))
    subd2 = (
        corpus.join(F.broadcast(anchors), ["sub", "dim"])
        .groupBy("vec_id", "sub", "a_id")
        .agg(F.sum(sq).cast("long").alias("d2"))
        .persist()
    )
    # coarse = fine distances re-aggregated over subspaces (identical
    # totals: both are sums of per-dim squared gaps)
    coarse = subd2.groupBy("vec_id", "a_id").agg(
        F.sum("d2").cast("long").alias("d2")
    )
    w_cell = Window.partitionBy("vec_id").orderBy("d2", "a_id")
    cells = (
        coarse.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("a_id").alias("cell"))
        .persist()
    )
    w_code = Window.partitionBy("vec_id", "sub").orderBy("d2", "a_id")
    codes = (
        subd2.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", F.col("a_id").alias("code"))
    )
    panel = (F.col("vec_id") >= 10) & (F.col("vec_id") < 20)
    lut = subd2.filter(panel).select(
        F.col("vec_id").alias("q_id"), "sub", F.col("a_id").alias("code"),
        F.col("d2").alias("ld2"),
    )
    qcells = cells.filter(panel).select(
        F.col("vec_id").alias("q_id"), F.col("cell").alias("q_cell")
    )
    return (
        codes.join(cells, "vec_id")
        .join(F.broadcast(qcells), F.col("cell") == F.col("q_cell"))
        .join(F.broadcast(lut), ["q_id", "sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("ld2").cast("long").alias("est_d2"))
    )



@register(
    "ann_ivfpq_topk",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    qc AS (
      SELECT vec_id, (dim - 1) // {_PQ_SUBDIM} AS sub, dim,
             {_PQ_Q.format('x')} AS qx
      FROM comp),
    anchors AS (SELECT vec_id AS a_id, sub, dim, qx FROM qc WHERE vec_id < 8),
    -- coarse quotient: full-vector squared L2 to each anchor
    coarse AS (
      SELECT v.vec_id, c.a_id,
             CAST(SUM((v.qx - c.qx) * (v.qx - c.qx)) AS BIGINT) AS d2
      FROM qc v JOIN anchors c ON c.dim = v.dim
      WHERE v.vec_id >= 8
      GROUP BY 1, 2),
    cells AS (
      SELECT vec_id, a_id AS cell FROM (
        SELECT vec_id, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, a_id) AS rn
        FROM coarse)
      WHERE rn = 1),
    -- fine quotient: per-subspace distances (codes + LUT share this)
    subd2 AS (
      SELECT v.vec_id, v.sub, c.a_id,
             CAST(SUM((v.qx - c.qx) * (v.qx - c.qx)) AS BIGINT) AS d2
      FROM qc v JOIN anchors c ON c.dim = v.dim AND c.sub = v.sub
      WHERE v.vec_id >= 8
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, sub, a_id AS code FROM (
        SELECT vec_id, sub, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, a_id) AS rn
        FROM subd2)
      WHERE rn = 1),
    lut AS (
      SELECT vec_id AS q_id, sub, a_id, d2
      FROM subd2 WHERE vec_id >= 10 AND vec_id < 20),
    qcells AS (
      SELECT vec_id AS q_id, cell FROM cells
      WHERE vec_id >= 10 AND vec_id < 20),
    adc AS (
      SELECT l.q_id, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS est_d2
      FROM codes c
      JOIN cells cl ON cl.vec_id = c.vec_id
      JOIN qcells qcl ON qcl.cell = cl.cell
      JOIN lut l ON l.sub = c.sub AND l.a_id = c.code AND l.q_id = qcl.q_id
      WHERE c.vec_id != l.q_id
      GROUP BY 1, 2)
    SELECT q_id, vec_id AS neighbor_id, est_d2, rank FROM (
      SELECT q_id, vec_id, est_d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY est_d2, vec_id) AS BIGINT) AS rank
      FROM adc)
    WHERE rank <= {_PQ_K}
    """,
    doc="IVF-PQ (the billion-scale serving recipe, Jégou et al. 2011 "
    "as deployed by every large vector store): a COARSE quantizer "
    "prunes the corpus to the query's cell, then candidates are ranked "
    "by PQ asymmetric distance — so query time touches neither the "
    "raw corpus vectors NOR the full candidate list: cell fan-out cuts "
    f"candidates, codes cut bytes-per-candidate to {_PQ_M} small ints, "
    "the per-query LUT is broadcast, and every quantity is exact int64 "
    "(both engines rank identically). Composes the two independently "
    "verified stages (ann_ivf_topk's cells, ann_pq_adc_topk's codes); "
    "candidate flow = codes |><| cells |><| broadcast(query cells) "
    "|><| broadcast(LUT) — equi-joins only.",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    adc = _ivfpq_adc(emb)
    w = Window.partitionBy("q_id").orderBy("est_d2", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "est_d2", "rank")
    )


# --------------------------------------------------------------------------
# two-stage retrieval — IVF-PQ shortlist, exact-score rerank
# --------------------------------------------------------------------------

_RERANK_SHORTLIST = 6  # stage-1 candidates kept per query


@register(
    "ann_two_stage_rerank",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    qc AS (
      SELECT vec_id, (dim - 1) // {_PQ_SUBDIM} AS sub, dim,
             {_PQ_Q.format('x')} AS qx
      FROM comp),
    anchors AS (SELECT vec_id AS a_id, sub, dim, qx FROM qc WHERE vec_id < 8),
    coarse AS (
      SELECT v.vec_id, c.a_id,
             CAST(SUM((v.qx - c.qx) * (v.qx - c.qx)) AS BIGINT) AS d2
      FROM qc v JOIN anchors c ON c.dim = v.dim
      WHERE v.vec_id >= 8
      GROUP BY 1, 2),
    cells AS (
      SELECT vec_id, a_id AS cell FROM (
        SELECT vec_id, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, a_id) AS rn
        FROM coarse)
      WHERE rn = 1),
    subd2 AS (
      SELECT v.vec_id, v.sub, c.a_id,
             CAST(SUM((v.qx - c.qx) * (v.qx - c.qx)) AS BIGINT) AS d2
      FROM qc v JOIN anchors c ON c.dim = v.dim AND c.sub = v.sub
      WHERE v.vec_id >= 8
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, sub, a_id AS code FROM (
        SELECT vec_id, sub, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, a_id) AS rn
        FROM subd2)
      WHERE rn = 1),
    lut AS (
      SELECT vec_id AS q_id, sub, a_id, d2
      FROM subd2 WHERE vec_id >= 10 AND vec_id < 20),
    qcells AS (
      SELECT vec_id AS q_id, cell FROM cells
      WHERE vec_id >= 10 AND vec_id < 20),
    adc AS (
      SELECT l.q_id, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS est_d2
      FROM codes c
      JOIN cells cl ON cl.vec_id = c.vec_id
      JOIN qcells qcl ON qcl.cell = cl.cell
      JOIN lut l ON l.sub = c.sub AND l.a_id = c.code AND l.q_id = qcl.q_id
      WHERE c.vec_id != l.q_id
      GROUP BY 1, 2),
    short AS (
      SELECT q_id, vec_id, est_d2 FROM (
        SELECT q_id, vec_id, est_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY est_d2, vec_id) AS rn
        FROM adc)
      WHERE rn <= {_RERANK_SHORTLIST}),
    ex AS (
      SELECT s.q_id, s.vec_id, s.est_d2,
             (CAST(SUM({_PQ_Q.format('q.x')} * {_PQ_Q.format('c.x')})
                   AS DOUBLE) / 100000000000000.0) AS dot
      FROM short s
      JOIN comp c ON c.vec_id = s.vec_id
      JOIN comp q ON q.vec_id = s.q_id AND q.dim = c.dim
      GROUP BY 1, 2, 3)
    SELECT q_id, vec_id AS neighbor_id, est_d2, dot, rank FROM (
      SELECT q_id, vec_id, est_d2, dot,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
      FROM ex)
    WHERE rank <= {_PQ_K}
    """,
    doc="TWO-STAGE RETRIEVAL (retrieve-then-rerank — the production "
    "serving shape behind every large-scale vector search): stage 1 is "
    f"the IVF-PQ ADC pipeline keeping a top-{_RERANK_SHORTLIST} "
    "shortlist per query on estimated distances (cheap, compressed, "
    "approximate); stage 2 rescores ONLY the shortlist with the "
    "exact-decimal inner product against the raw vectors and re-ranks "
    f"to the final top-{_PQ_K}. The reranker's join is CANDIDATE-"
    "BOUNDED: raw components are fetched by equi-joining the "
    f"(|Q| x {_RERANK_SHORTLIST})-row broadcast shortlist — at 100 TB "
    "the second stage touches ~60 full vectors per query however big "
    "the corpus is, which is why the rerank can afford exact math "
    "while stage 1 cannot. Rank inversions between est_d2 order and "
    "exact-dot order are precisely what the rerank exists to fix.",
)
def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    adc = _ivfpq_adc(emb)
    w_short = Window.partitionBy("q_id").orderBy("est_d2", "vec_id")
    short = (
        adc.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= _RERANK_SHORTLIST)
        .select("q_id", "vec_id", "est_d2")
    )
    comp = exploded_components(emb, "vec_id")
    qcomp = comp.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("q_id"), "dim", quantize(F.col("x")).alias("qqx")
    )
    # candidate-bounded rerank: corpus components reach the scorer only
    # through the broadcast shortlist equi-join
    cand = comp.join(F.broadcast(short), "vec_id").select(
        "q_id", "vec_id", "est_d2", "dim", quantize(F.col("x")).alias("qcx")
    )
    from kinesis_log_watcher_spark.operators.similarity import QSCALE2

    ex = (
        cand.join(F.broadcast(qcomp), ["q_id", "dim"])
        .groupBy("q_id", "vec_id", "est_d2")
        .agg(
            (F.sum(F.col("qqx") * F.col("qcx")).cast("double") / F.lit(QSCALE2))
            .alias("dot")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), "vec_id")
    return (
        ex.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "est_d2", "dot", "rank")
    )


# --------------------------------------------------------------------------
# HLL mergeability as a query — daily sketches → monthly distinct
# --------------------------------------------------------------------------


@register(
    "hll_daily_merge",
    f"""
    WITH hashed AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM events),
    day_regs AS (
      SELECT day, h % 16 AS r,
             MAX(CASE WHEN (h >> 4) = 0 THEN 57
                      ELSE 57 - length(bin(h >> 4)) END) AS m_rho
      FROM hashed GROUP BY 1, 2),
    merged AS (
      SELECT r, MAX(m_rho) AS m_rho FROM day_regs GROUP BY r),
    stats AS (
      SELECT COUNT(*) AS present,
             SUM(1::BIGINT << (57 - m_rho)) AS s_present
      FROM merged),
    est AS (
      SELECT 16 - present AS v,
             {_HLL_P4_ALPHA!r}
               / (s_present + (16 - present) * (1::BIGINT << 57)) AS e_raw
      FROM stats)
    SELECT CAST((SELECT COUNT(DISTINCT day) FROM hashed) AS BIGINT)
             AS n_days,
           CAST(floor(CASE WHEN e_raw <= 40.0 AND v > 0
                           THEN 16.0 * ln(16.0 / v) ELSE e_raw END + 0.5)
                AS BIGINT) AS est_users,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
             AS exact_users
    FROM est
    """,
    doc="HLL MERGEABILITY as a query — the '100 TB rollup' claim the "
    "sketch was built for, executed: per-DAY register tables (the "
    "nightly artifact a warehouse stores) merge into the monthly "
    "distinct-user estimate by register-MAX alone, never re-reading "
    "raw keys; the merged estimate is compared against the exact "
    "month-wide distinct in the same row. Shapes: two bounded "
    "aggregations over (day x 16)-row relations after the one "
    "(day, register) pass over events.",
)
def hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    ev = load(spark, sf_dir, "events")
    daily = hll_build(
        ev.withColumn("day", F.col("ts").cast("date")),
        "user_id",
        group_cols=("day",),
        p=4,
    )
    daily = daily.persist()
    merged = daily.groupBy("r").agg(F.max("m_rho").alias("m_rho"))
    est = hll_estimate(merged, group_cols=(), p=4)
    n_days = daily.select("day").distinct().agg(
        F.count("*").cast("long").alias("n_days")
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        est.crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_days",
            F.floor(F.col("est_distinct") + 0.5).cast("long").alias("est_users"),
            "exact_users",
        )
    )


# --------------------------------------------------------------------------
# histogram mergeability as a query — daily sketches → monthly quantiles
# --------------------------------------------------------------------------


@register(
    "hist_daily_merge",
    """
    WITH b AS (
      SELECT CAST(ts AS DATE) AS day,
             LEAST(GREATEST(CAST(floor((value - 0.0) / 10.0) AS BIGINT), 0),
                   49) AS bin
      FROM events),
    day_h AS (SELECT day, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
    merged AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS c FROM day_h GROUP BY bin),
    cum AS (
      SELECT bin,
             SUM(c) OVER (ORDER BY bin) AS cum,
             SUM(c) OVER () AS n
      FROM merged),
    hit AS (
      SELECT p, MIN(bin) AS bin_idx, MIN(n) AS n
      FROM cum CROSS JOIN (SELECT unnest([50, 95]) AS p) q
      WHERE cum * 100 >= p * n
      GROUP BY p)
    SELECT CAST((SELECT COUNT(DISTINCT day) FROM b) AS BIGINT) AS n_days,
           CAST(p AS BIGINT) AS p,
           0.0 + (bin_idx + 0.5) * 10.0 AS est_value,
           CAST(n AS BIGINT) AS n
    FROM hit
    """,
    doc="HISTOGRAM MERGEABILITY as a query (the quantile companion to "
    "hll_daily_merge): per-DAY 50-bin histograms — the nightly sketch a "
    "warehouse stores — merge into month-wide p50/p95 estimates by "
    "COUNTER ADDITION alone, never re-reading raw values; the rank "
    "test stays exact int64. Two bounded aggregations over "
    "(day x 50)-row relations after the one binning pass.",
)
def hist_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import (
        hist_build,
        hist_quantiles,
    )

    ev = load(spark, sf_dir, "events")
    daily = hist_build(
        ev.withColumn("day", F.col("ts").cast("date")),
        "value",
        group_cols=("day",),
        lo=0.0,
        hi=500.0,
        nbins=50,
    ).persist()
    merged = daily.groupBy("bin").agg(F.sum("c").cast("long").alias("c"))
    est = hist_quantiles(merged, (50, 95), group_cols=(), lo=0.0, hi=500.0, nbins=50)
    n_days = daily.select("day").distinct().agg(
        F.count("*").cast("long").alias("n_days")
    )
    return est.crossJoin(F.broadcast(n_days)).select(
        "n_days", F.col("p").cast("long").alias("p"), "est_value",
        F.col("n").cast("long").alias("n"),
    )


# --------------------------------------------------------------------------
# CMS mergeability as a query — daily grids → monthly frequency estimates
# --------------------------------------------------------------------------


@register(
    "cms_daily_merge",
    """
    WITH ix AS (SELECT unnest(range(4)) AS i),
    hashed AS (
      SELECT CAST(e.ts AS DATE) AS day, e.user_id, ix.i,
             CAST('0x' || substr(md5(CAST(ix.i AS VARCHAR) || ':'
                  || CAST(e.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
      FROM events e CROSS JOIN ix),
    day_grids AS (SELECT day, i, b, COUNT(*) AS c FROM hashed GROUP BY 1, 2, 3),
    merged AS (SELECT i, b, CAST(SUM(c) AS BIGINT) AS c
               FROM day_grids GROUP BY i, b),
    keys AS (SELECT user_id, COUNT(*) AS exact_n FROM events
             WHERE user_id < 30 GROUP BY 1),
    probes AS (
      SELECT k.user_id, k.exact_n, ix.i,
             CAST('0x' || substr(md5(CAST(ix.i AS VARCHAR) || ':'
                  || CAST(k.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
      FROM keys k CROSS JOIN ix)
    SELECT p.user_id,
           CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_n,
           CAST(MIN(p.exact_n) AS BIGINT) AS exact_n
    FROM probes p LEFT JOIN merged c ON p.i = c.i AND p.b = c.b
    GROUP BY p.user_id
    """,
    doc="CMS MERGEABILITY as a query — completing the mergeable-sketch "
    "rollup trio (hll_daily_merge: register-MAX; hist_daily_merge: "
    "counter addition; here: CELL-WISE ADDITION of per-day 4x64 "
    "Count-Min grids into the monthly frequency sketch, raw events "
    "never re-read). Estimates from the merged grid stay provably >= "
    "exact and bit-reproducible (md5 row hashes); the probe set is the "
    "user_id < 30 panel joined against the 256-row merged grid "
    "broadcast.",
)
def cms_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cms_build has no group column — build the per-day grids directly
    # with the same bucket convention, then merge by cell addition.
    from kinesis_log_watcher_spark.operators.sketch import _bucket, cms_estimate

    ev = load(spark, sf_dir, "events")

    rows = ev.select(
        F.col("ts").cast("date").alias("day"), F.col("user_id").alias("k")
    ).withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(3))))
    day_grids = (
        rows.withColumn("b", _bucket(F.col("i"), F.col("k"), 64))
        .groupBy("day", "i", "b")
        .agg(F.count("*").alias("c"))
    )
    merged = day_grids.groupBy("i", "b").agg(F.sum("c").alias("c"))
    keys = (
        ev.filter(F.col("user_id") < 30)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
    )
    est = cms_estimate(merged, keys, "user_id", depth=4, width=64)
    return est.join(keys, "user_id").select(
        "user_id", "est_n", F.col("exact_n").cast("long").alias("exact_n")
    )


@register(
    "cms_join_size_estimate",
    """
    WITH ix AS (SELECT unnest(range(4)) AS i),
    ha AS (
      SELECT ix.i,
             CAST('0x' || substr(md5(CAST(ix.i AS VARCHAR) || ':'
                  || CAST(e.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
      FROM events e CROSS JOIN ix WHERE e.event_type = 'click'),
    hb AS (
      SELECT ix.i,
             CAST('0x' || substr(md5(CAST(ix.i AS VARCHAR) || ':'
                  || CAST(e.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
      FROM events e CROSS JOIN ix WHERE e.event_type = 'purchase'),
    ca AS (SELECT i, b, COUNT(*) AS c FROM ha GROUP BY 1, 2),
    cb AS (SELECT i, b, COUNT(*) AS c FROM hb GROUP BY 1, 2),
    est AS (
      SELECT COALESCE(MIN(COALESCE(p.ip, 0)), 0) AS est_join_size
      FROM (SELECT DISTINCT i FROM ca) gx LEFT JOIN
           (SELECT ca.i, SUM(ca.c * COALESCE(cb.c, 0)) AS ip
            FROM ca LEFT JOIN cb ON ca.i = cb.i AND ca.b = cb.b
            GROUP BY ca.i) p ON gx.i = p.i),
    ex AS (
      SELECT COALESCE(SUM(a.n * b.n), 0) AS exact_join_size
      FROM (SELECT user_id, COUNT(*) n FROM events
            WHERE event_type = 'click' GROUP BY 1) a
      JOIN (SELECT user_id, COUNT(*) n FROM events
            WHERE event_type = 'purchase' GROUP BY 1) b
        ON a.user_id = b.user_id)
    SELECT CAST(est.est_join_size AS BIGINT) AS est_join_size,
           CAST(ex.exact_join_size AS BIGINT) AS exact_join_size
    FROM est, ex
    """,
    doc="CMS join-size estimation (Cormode & Muthukrishnan 2005 §4.3) — "
    "the optimizer question 'how big is clicks JOIN purchases on "
    "user_id?' answered from two 4x64 sketches: per-row inner products "
    "upper-bound the true size (collisions only add cross terms), min "
    "over rows is the estimate. Building the grids is one conditional-"
    "agg pass per side at ANY volume; estimation itself joins 256-row "
    "relations. Paired with the exact answer (per-key count join) so "
    "the oracle pins BOTH the estimator's md5-reproducible value and "
    "the est >= exact guarantee. At 100 TB this is what decides "
    "broadcast-vs-shuffle-vs-salt BEFORE paying for the join — the "
    "sketches come from the stored nightly rollups (cms_daily_merge), "
    "raw keys never re-read.",
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.sketch import cms_build, cms_join_size

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    est = cms_join_size(
        cms_build(clicks, "user_id", depth=4, width=64),
        cms_build(purchases, "user_id", depth=4, width=64),
    )
    a = clicks.groupBy("user_id").agg(F.count("*").alias("na"))
    b = purchases.groupBy("user_id").agg(F.count("*").alias("nb"))
    exact = a.join(b, "user_id").agg(
        F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
        .cast("long")
        .alias("exact_join_size")
    )
    return est.crossJoin(exact)


# --------------------------------------------------------------------------
# IVF operating curve: recall/candidate-volume vs nprobe
# --------------------------------------------------------------------------


@register(
    "ann_nprobe_recall_curve",
    f"""
    WITH comp AS (
      SELECT vec_id, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings),
    anchors AS (SELECT vec_id AS a_id, x AS qx, dim FROM comp WHERE vec_id < 8),
    dots AS (
      SELECT c.vec_id, a_id, {_DOT_DEC.replace('qx', 'a.qx').replace('CAST(x', 'CAST(c.x')} AS dot
      FROM comp c JOIN anchors a USING (dim)
      WHERE c.vec_id >= 8
      GROUP BY c.vec_id, a_id),
    cells AS (
      SELECT vec_id, a_id AS cell FROM (
        SELECT vec_id, a_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, a_id) AS rn
        FROM dots)
      WHERE rn = 1),
    qcomp AS (
      SELECT vec_id AS q_id, x AS qx, dim FROM comp
      WHERE vec_id >= 10 AND vec_id < 20),
    qdots AS (
      SELECT q.q_id, a.a_id,
             {_DOT_DEC.replace('qx', 'q.qx').replace('CAST(x', 'CAST(a.x')} AS dot
      FROM (SELECT vec_id AS a_id, x, dim FROM comp WHERE vec_id < 8) a
      JOIN qcomp q USING (dim)
      GROUP BY q.q_id, a.a_id),
    qrank AS (
      SELECT q_id, a_id AS cell,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, a_id)
               AS rn
      FROM qdots),
    probes(nprobe) AS (VALUES (1), (2), (4)),
    probe_cells AS (
      SELECT p.nprobe, q.q_id, q.cell
      FROM qrank q JOIN probes p ON q.rn <= p.nprobe),
    all_dots AS (
      SELECT q.q_id, c.vec_id, {_DOT_DEC.replace('CAST(x', 'CAST(c.x')} AS dot
      FROM comp c JOIN qcomp q USING (dim)
      WHERE c.vec_id != q.q_id AND c.vec_id >= 8
      GROUP BY q.q_id, c.vec_id),
    exact_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY dot DESC, vec_id) AS rank
        FROM all_dots)
      WHERE rank <= 3),
    cand AS (
      SELECT p.nprobe, d.q_id, d.vec_id, d.dot
      FROM all_dots d
      JOIN cells cc ON cc.vec_id = d.vec_id
      JOIN probe_cells p ON p.q_id = d.q_id AND p.cell = cc.cell),
    ivf_top AS (
      SELECT nprobe, q_id, vec_id FROM (
        SELECT nprobe, q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY nprobe, q_id
                    ORDER BY dot DESC, vec_id) AS rank
        FROM cand)
      WHERE rank <= 3),
    hits AS (
      SELECT p.nprobe,
             CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
             CAST(COUNT(*) AS BIGINT) AS n_truth
      FROM probes p
      CROSS JOIN exact_top e
      LEFT JOIN ivf_top i ON i.nprobe = p.nprobe AND i.q_id = e.q_id
                          AND i.vec_id = e.vec_id
      GROUP BY p.nprobe),
    vol AS (
      SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS cand_pairs
      FROM cand GROUP BY 1)
    SELECT h.nprobe, h.n_truth, h.n_hit,
           CAST(h.n_hit * 1000000 // h.n_truth AS BIGINT) AS recall_micro,
           v.cand_pairs
    FROM hits h JOIN vol v ON v.nprobe = h.nprobe
    """,
    doc="IVF OPERATING CURVE: recall@3 and candidate volume as nprobe "
    "sweeps 1 -> 2 -> 4 probed cells per query — the tuning table an "
    "ANN deployment reads to pick its recall/cost point (recall must "
    "be monotone in nprobe; candidate volume is the cost axis). Same "
    "exact-integer dot machinery as ann_ivf_recall; the probe panel "
    "is a 3-row literal joined on the query-to-cell rank, so the "
    "whole curve costs ONE pass over the candidate relation, not one "
    "run per operating point. At scale this is the query you run on a "
    "sample before freezing index parameters.",
)
def ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_log_watcher_spark.operators.similarity import (
        exact_dot,
        exploded_components,
    )

    emb = load(spark, sf_dir, "embeddings")
    comp = exploded_components(emb, "vec_id")
    data = comp.filter(F.col("vec_id") >= 8)
    anch = comp.filter(F.col("vec_id") < 8)
    anchors = anch.select(
        F.col("vec_id").alias("a_id"), F.col("x").alias("qx"), "dim"
    )
    dots = exact_dot(anchors, data, "a_id", "vec_id", exclude_self=False)
    w_cell = Window.partitionBy("vec_id").orderBy(
        F.col("dot").desc(), F.col("a_id")
    )
    cells = (
        dots.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("a_id").alias("cell"))
    )
    qcomp = comp.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 20)
    ).select(F.col("vec_id").alias("q_id"), F.col("x").alias("qx"), "dim")
    qdots = exact_dot(qcomp, anch, "q_id", "vec_id", exclude_self=False)
    w_q = Window.partitionBy("q_id").orderBy(
        F.col("dot").desc(), F.col("vec_id")
    )
    qrank = qdots.select(
        "q_id",
        F.col("vec_id").alias("cell"),
        F.row_number().over(w_q).alias("rn"),
    )
    probes = F.broadcast(
        emb.sparkSession.createDataFrame([(1,), (2,), (4,)], "nprobe long")
    )
    probe_cells = qrank.join(probes, F.col("rn") <= F.col("nprobe")).select(
        "nprobe", "q_id", "cell"
    )
    all_dots = exact_dot(qcomp, data, "q_id", "vec_id").persist()
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    exact_top = (
        all_dots.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "vec_id")
    )
    cand = (
        all_dots.join(cells, "vec_id")
        .join(probe_cells, ["q_id", "cell"])
        .select("nprobe", "q_id", "vec_id", "dot")
        .persist()
    )
    w_np = Window.partitionBy("nprobe", "q_id").orderBy(
        F.col("dot").desc(), F.col("vec_id")
    )
    ivf_top = (
        cand.withColumn("rank", F.row_number().over(w_np))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("nprobe").alias("i_np"),
            F.col("q_id").alias("i_q"),
            F.col("vec_id").alias("i_v"),
        )
    )
    hits = (
        probes.crossJoin(exact_top)
        .join(
            ivf_top,
            (F.col("nprobe") == F.col("i_np"))
            & (F.col("q_id") == F.col("i_q"))
            & (F.col("vec_id") == F.col("i_v")),
            "left",
        )
        .groupBy("nprobe")
        .agg(
            F.count("i_v").cast("long").alias("n_hit"),
            F.count("*").cast("long").alias("n_truth"),
        )
    )
    vol = cand.groupBy("nprobe").agg(
        F.count("*").cast("long").alias("cand_pairs")
    )
    out = (
        hits.join(vol, "nprobe")
        .select(
            "nprobe",
            "n_truth",
            "n_hit",
            F.expr("n_hit * 1000000 div n_truth").alias("recall_micro"),
            "cand_pairs",
        )
    )
    # 3-row curve: materialize it, then free the two persisted
    # intermediates instead of leaving them cached for the session.
    return finalize_unpersist(out, all_dots, cand)
