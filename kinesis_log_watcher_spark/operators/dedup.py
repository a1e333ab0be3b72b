"""Deduplication operators for large text corpora.

Four families, all shared-nothing and shuffle-conscious:

- exact: hash-groupBy on the raw text (or a normalized fingerprint) —
  one shuffle on a well-distributed key.
- MinHash + LSH: shingle → K min-hashes → B banded signatures →
  bucket-join candidates. Candidate generation never compares all pairs:
  cost is Σ bucket² over band buckets, and the md5-derived hashes make
  results engine-reproducible (the DuckDB oracle computes the same md5s).
- SimHash: per-token 60-bit hashes → per-bit majority → 4×15-bit bands.
  Hamming ≤ 7 with 4 bands is *exact* by pigeonhole (≤3 differing bits
  guarantees one identical band; we band for candidates then verify the
  true hamming distance) — a banded equi-join, not an O(n²) scan.
- n-gram Jaccard: inverted index on shingles with a document-frequency
  cap (stop-shingles dropped — the skew guard: a shingle appearing in f
  docs generates f² candidate pairs).

All expressions are built-ins (md5, conv, shift, bit ops) — no UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; requires ≥n tokens (caller filters)."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def exploded_shingles(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      hashed: bool = False) -> DataFrame:
    """(doc_id, shingle) rows, distinct per doc. Docs shorter than n
    tokens drop out (no shingles → cannot near-dup by this measure).

    ``hashed=True`` replaces the shingle text with its xxhash64 — 8-byte
    join/shuffle keys instead of ~n-word strings (~30% faster at sf0.1,
    more at corpus scale where the inverted index dominates shuffle
    volume). Collisions are ~|shingles|²/2⁶⁵ — vanishing, and a collision
    only merges two postings lists, it cannot create a false pair above
    a Jaccard threshold on realistic set sizes. Use the string form where
    hash *values* must be engine-reproducible (MinHash signatures)."""
    out = (
        docs.filter(F.size(tokens_col(F.col(text_col))) >= n)
        .select(id_col, F.explode(shingles_col(F.col(text_col), n)).alias("shingle"))
    )
    if hashed:
        out = out.select(id_col, F.xxhash64("shingle").alias("shingle"))
    return out


# ---------------------------------------------------------------------------
# exact / fingerprint dedup
# ---------------------------------------------------------------------------


def fingerprint_col(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted token bag
    (lowercased). Collapses word-order permutations."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.split(F.lower(text), " "))))


def exact_dedup_groups(docs: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Group by a dedup key → (key, canonical_id=min id, n_members).
    One shuffle; survivors = canonical ids."""
    return docs.groupBy(key.alias("dedup_key")).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_members")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Default MinHash/LSH geometry — the batch query (queries/llm.py) and
# the streaming detector (streaming/neardup.py) must agree on these, or
# the streaming operator diverges from the SQL oracle it shares with
# the batch query.
MINHASH_NUM_HASHES = 16
MINHASH_BANDS = 4


def minhash_signature(sh: DataFrame, num_hashes: int = MINHASH_NUM_HASHES,
                      id_col: str = "doc_id") -> DataFrame:
    """K min-hashes per doc in ONE aggregation (no seed explosion):
    m_k = MIN(md5('k|' || shingle)). md5 hex compares lexicographically
    identically everywhere → engine-independent signatures."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"m{k}")
        for k in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, num_hashes: int = MINHASH_NUM_HASHES,
              bands: int = MINHASH_BANDS,
              id_col: str = "doc_id") -> DataFrame:
    """Fold each band's rows into one md5 band key, explode to
    (doc_id, band, band_sig)."""
    rows_per_band = num_hashes // bands
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"m{b * rows_per_band + r}")
                                   for r in range(rows_per_band)])
            ).alias("band_sig"),
        )
        for b in range(bands)
    ]
    return sig.select(
        id_col, F.explode(F.array(*entries)).alias("e")
    ).select(id_col, "e.band", "e.band_sig")


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Self-join band buckets → candidate pairs + how many bands matched.
    Join key (band, band_sig) is high-cardinality → well-spread shuffle."""
    a = bands_df.select(
        F.col(id_col).alias("doc_a"), "band", "band_sig"
    )
    b = bands_df.select(
        F.col(id_col).alias("doc_b"), "band", "band_sig"
    )
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit int
SIMHASH_BANDS = 4
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
_BAND_MASK = (1 << _BAND_BITS) - 1


def md5_h15(col: Column) -> Column:
    """First 15 md5 hex chars as a nonnegative int64 (house hash-draw
    convention, identical to DuckDB CAST('0x'||substr(md5(x),1,15) AS
    BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc: per-bit majority vote over distinct-token
    hashes, computed as 60 conditional-sum aggregates in ONE groupBy —
    no bit explosion, single shuffle on doc_id."""
    toks = (
        docs.select(id_col, F.explode(F.array_distinct(
            F.split(F.col(text_col), " "))).alias("tok"))
        .select(id_col, md5_h15(F.col("tok")).alias("h"))
    )
    sums = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(F.count("*").alias("n"), *sums)
    bit_terms = [
        F.when(F.col(f"s{j}") * 2 > F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(SIMHASH_BITS)
    ]
    sig = reduce(lambda x, y: x + y, bit_terms).cast("long")
    return agg.select(id_col, sig.alias("sig"))


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 7,
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs with hamming(sig_a, sig_b) ≤ max_hamming via banded
    candidates. With 4 bands, any pair at hamming ≤ 3 is *guaranteed*
    caught (pigeonhole); larger thresholds are high-recall approximate.
    Cost: equi-join on (band, value), never all-pairs."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("sig"), b * _BAND_BITS)
            .bitwiseAND(F.lit(_BAND_MASK))
            .alias("bv"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    banded = sigs.select(
        F.col(id_col), "sig", F.explode(F.array(*entries)).alias("e")
    ).select(F.col(id_col), "sig", "e.band", "e.bv")
    a = banded.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a"),
                      "band", "bv")
    b = banded.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"),
                      "band", "bv")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    # First-matching-band dedup: a pair colliding in k bands would emit k
    # times; instead of a distinct() (an extra full shuffle of every
    # candidate), emit the pair only from its LOWEST matching band — for
    # band bd require that no earlier band matches. Both signatures are
    # already in the join row, so this is a pure filter: zero-shuffle
    # dedup, the classic LSH trick.
    first_match = F.lit(True)
    for j in range(SIMHASH_BANDS):
        earlier_differs = (
            F.shiftright(F.col("sig_a").bitwiseXOR(F.col("sig_b")), j * _BAND_BITS)
            .bitwiseAND(F.lit(_BAND_MASK))
            != 0
        )
        first_match = first_match & (
            (F.col("band") <= j) | earlier_differs
        )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first_match)
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# connected components (near-dup pairs → dedup clusters)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Turn a near-dup pair list into dedup clusters: (node, component)
    where component = min doc id reachable — the canonical survivor.

    Alternating large-star / small-star (the published MapReduce
    connected-components formulation — Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round rewires
    every node toward the minimum of its neighborhood, halving the
    remaining tree height, so convergence is O(log²) rounds in the worst
    case (O(log) in practice) — independent of graph DIAMETER. A
    100M-node path graph converges in ~30 rounds where per-hop min-label
    propagation would need 100M. Each half-round is one groupBy-min +
    one equi-join; localCheckpoint truncates lineage between rounds.

    The convergence check is a driver-side count of changed edges per
    round — a cheap aggregate, never a data collect — and ``max_iter``
    (25 ≫ log²(any realistic graph)) bounds the loop.
    """
    # Materialize the pair computation ONCE before fanning into the
    # forward+reverse union (two lazy references would evaluate the
    # upstream near-dup query twice inside one job).
    fwd = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint()
    )
    nodes = (
        fwd.select(F.col("u").alias("node"))
        .unionAll(fwd.select(F.col("v").alias("node")))
        .distinct()
    )
    # orient big→small; the loop invariant keeps v < u for every edge
    edges = (
        fwd.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        # large-star: every neighbor bigger than u links to
        # min(Γ(u) ∪ {u}); strictly-smaller neighbors keep u's subtree
        # connected via the small-star half-round.
        sym = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", "u").alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges are (u, v<u); every v in Γ(u) ∪ {u} links to
        # the minimum of that set (self-loops dropped).
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionAll(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        changed = (
            small.unionAll(edges)
            .groupBy("u", "v")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") == 1)
            .count()
        )
        edges = small
        if changed == 0:
            break
    # fixpoint is a star forest: every non-root points straight at its
    # component minimum; roots (the minima) have no outgoing edge.
    labels = nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("root")),
        "node",
        "left",
    ).select("node", F.coalesce("root", "node").alias("lbl"))
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("node").alias("doc_id"),
            F.col("lbl").alias("component"),
            F.col("cluster_size").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def common_shingle_pairs(
    sh: DataFrame, max_doc_freq: int = 100, id_col: str = "doc_id"
) -> DataFrame:
    """Unordered candidate pairs sharing ≥1 shingle, with their exact
    intersection count: (doc_a, doc_b, common), doc_a < doc_b.

    Inverted-index self-join with a document-frequency cap: shingles in
    > max_doc_freq docs are dropped before pairing (each such shingle
    would emit f² pairs — the classic quadratic skew). The ONE
    candidate generator behind every set-overlap measure (Jaccard,
    containment) — the cap affects only recall of pathologically
    common shingles, never the metric computed on the survivors."""
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("shingle")
    )
    pruned = sh.join(rare, "shingle")
    a = pruned.select(F.col(id_col).alias("doc_a"), "shingle")
    b = pruned.select(F.col(id_col).alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )


def jaccard_pairs(
    sh: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs with shingle-set Jaccard ≥ threshold — candidates from
    ``common_shingle_pairs``; the Jaccard is computed on the *uncapped*
    per-doc set sizes."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    common = common_shingle_pairs(sh, max_doc_freq=max_doc_freq, id_col=id_col)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
