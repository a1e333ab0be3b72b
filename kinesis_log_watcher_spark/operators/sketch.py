"""Count-Min Sketch: sub-linear frequency estimation as DataFrames.

The CMS (Cormode & Muthukrishnan 2005) summarizes a key-frequency
distribution in a depth×width counter grid: row i counts keys bucketed
by hash_i(key) mod width; a key's estimate is the MIN of its d counters
— always ≥ the true count (collisions only ever inflate), with error
≤ εN at width = e/ε with probability 1 − δ at depth = ln(1/δ).

Distributed shape: building is ONE groupBy over (row, bucket) — the
sketch is depth×width rows regardless of input size, so it broadcasts
everywhere after a single aggregation pass; merging shards is counter
addition (the groupBy does it); estimation is a broadcast join against
the tiny grid. This is the sketch pattern the engine uses for any
"heavy hitters at 100 TB" question where exact per-key counts don't fit.

Hashes are md5-derived (same convention as the minhash/simhash family:
``conv(substr(md5(...), 1, 15), 16, 10)``) so a SQL oracle reproduces
the grid — and therefore the estimates — bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_log_watcher_spark.operators.dedup import md5_h15


def _bucket(i_col, key_col, width: int):
    h = md5_h15(F.concat(i_col.cast("string"), F.lit(":"), key_col.cast("string")))
    return h % width


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """One aggregation pass → the (i, b, c) counter grid
    (depth × width rows total, whatever the input size)."""
    rows = df.select(F.col(key_col).alias("k")).withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
    )
    return (
        rows.withColumn("b", _bucket(F.col("i"), F.col("k"), width))
        .groupBy("i", "b")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Estimate each key's frequency: min over its d counters (absent
    counter rows are zero). The grid broadcasts — the only real work is
    the scan of ``keys``."""
    probes = keys.select(F.col(key_col).alias("k")).withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
    )
    probes = probes.withColumn("b", _bucket(F.col("i"), F.col("k"), width))
    joined = probes.join(F.broadcast(cms), ["i", "b"], "left")
    return (
        joined.groupBy("k")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est_n"))
        .withColumnRenamed("k", key_col)
    )


def cms_join_size(cms_a: DataFrame, cms_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two CMS grids built with the
    SAME (depth, width, hash): for each row i the inner product
    sum_b cA(i,b)*cB(i,b) upper-bounds the true join size
    sum_k fA(k)*fB(k) (collisions only add cross terms), so the min
    over rows is the classical CMS join-size estimator (Cormode &
    Muthukrishnan 2005, §4.3). Cost: a (depth*width)-row join — the
    sketches summarize ANY input volume, which is the point: the
    optimizer-style "how big would this join be" question answered
    without touching either fact table again.

    Zero-overlap semantics: a grid cell present in A but absent in B
    contributes ca*0 (left join + coalesce, matching the estimator's
    definition over the FULL width), and the min ranges over ALL of
    A's grid rows via a spine DERIVED from the grid itself (any
    nonempty input populates every row 0..depth-1, so the derived
    spine always equals the build depth — a caller-supplied depth
    could silently disagree with the build and min over phantom
    zero rows). Two sketches whose cells never collide estimate 0,
    and empty inputs estimate 0, never NULL and never an inflated
    min over only-colliding rows."""
    a = cms_a.select("i", "b", F.col("c").alias("ca"))
    b = cms_b.select("i", "b", F.col("c").alias("cb"))
    per_row = (
        a.join(b, ["i", "b"], "left")
        .groupBy("i")
        .agg(
            F.sum(F.col("ca") * F.coalesce(F.col("cb"), F.lit(0))).alias("ip")
        )
    )
    spine = a.select("i").distinct()
    return (
        spine.join(per_row, "i", "left")
        .select(F.coalesce(F.col("ip"), F.lit(0)).alias("ip"))
        .agg(
            F.coalesce(F.min("ip"), F.lit(0))
            .cast("long")
            .alias("est_join_size")
        )
    )


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1024, k: int = 3
) -> DataFrame:
    """Bloom filter as a DataFrame of set bit positions: each key sets k
    md5-derived positions in [0, m_bits). Output is AT MOST m_bits rows
    whatever the input size — the broadcastable membership summary for a
    set too large to broadcast exactly. Merge = union-distinct."""
    rows = df.select(F.col(key_col).alias("key")).withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    )
    return (
        rows.select(_bucket(F.col("i"), F.col("key"), m_bits).alias("b"))
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1024,
    k: int = 3,
) -> DataFrame:
    """Membership test: a key is 'maybe present' iff ALL k of its bit
    positions are set — no false negatives ever, false positives at the
    classical (1-e^{-kn/m})^k rate. The bit set broadcasts; probing is a
    narrow pass over ``keys`` (the 100 TB use: pre-filter a fact table
    before an expensive join against a non-broadcastable dim)."""
    probes = keys.select(F.col(key_col).alias("key")).withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    )
    probes = probes.withColumn("b", _bucket(F.col("i"), F.col("key"), m_bits))
    hit = probes.join(
        F.broadcast(bits.withColumn("_set", F.lit(True))), "b", "left"
    )
    return (
        hit.groupBy("key")
        .agg(F.min(F.coalesce(F.col("_set"), F.lit(False))).alias("bloom_maybe"))
        .withColumnRenamed("key", key_col)
    )


# ---------------------------------------------------------------------------
# HyperLogLog — mergeable distinct-count sketch
# ---------------------------------------------------------------------------
#
# Flajolet et al. 2007: hash each key to 60 bits (15 md5 hex chars, the
# family convention), route it to one of m = 2^p registers by its low p
# bits, and keep per register the MAX of rho(w) = position of the
# leftmost 1-bit in the remaining 60-p bits (w == 0 → 60-p+1). The
# registers ARE the sketch: ≤ m rows per group whatever the input size,
# merge = MAX per register (a groupBy), estimate = alpha_m * m^2 /
# sum(2^-M_j).
#
# Engine-reproducibility: every quantity up to the final division is
# exact int64 — S = sum over all m registers of 2^(K - M_j) with
# K = 60-p+1 (absent registers contribute 2^K), so the raw estimate is
# one IEEE division of a shared double literal by an exact integer:
# bit-identical on any engine. The only non-portable float op is ln()
# inside the small-range linear-counting branch; callers that need
# bit-exact cross-engine results quantize the estimate (the branch
# condition itself compares exact quantities, so WHICH branch runs
# never diverges).

_HLL_HASH_BITS = 60


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_build(
    df: DataFrame, key_col: str, group_cols: tuple[str, ...] = (), p: int = 10
) -> DataFrame:
    """One aggregation pass → per-group register table
    (group_cols..., r, m_rho), at most 2^p rows per group. Shards merge
    by the same groupBy-MAX, so sketches from different partitions,
    days, or tables combine without re-reading the raw keys."""
    m = 1 << p
    k = _HLL_HASH_BITS - p + 1
    h = md5_h15(F.col(key_col).cast("string"))
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(k)).otherwise(F.lit(k) - F.length(F.bin(w)))
    return (
        df.select(*group_cols, (h % m).alias("r"), rho.alias("rho"))
        .groupBy(*group_cols, "r")
        .agg(F.max("rho").alias("m_rho"))
    )


def hll_estimate(
    regs: DataFrame, group_cols: tuple[str, ...] = (), p: int = 10
) -> DataFrame:
    """Registers → per-group cardinality estimate (double column
    ``est_distinct``). Small-range correction (linear counting over the
    V empty registers) per the original paper; 60-bit hashes make the
    large-range correction unreachable in practice."""
    m = 1 << p
    k = _HLL_HASH_BITS - p + 1
    alpha_num = _hll_alpha(m) * m * m * float(1 << k)  # alpha*m^2*2^K
    stats = regs.groupBy(*group_cols).agg(
        F.count("*").alias("present"),
        # shiftleft() in the Python API takes a literal bit count; the
        # SQL form accepts the per-register column.
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {k} - m_rho)")).alias(
            "s_present"
        ),
    )
    v = F.lit(m) - F.col("present")
    s = F.col("s_present") + v * F.lit(1 << k)
    e_raw = F.lit(alpha_num) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return stats.select(*group_cols, est.alias("est_distinct"))


# ---------------------------------------------------------------------------
# Mergeable histogram quantiles — approximate percentiles at scale
# ---------------------------------------------------------------------------
#
# Fixed-bin equi-width histogram as a DataFrame: nbins counter rows per
# group whatever the input size; shards/days merge by counter addition
# (a groupBy-SUM); a p-quantile estimate is the midpoint of the first
# bin whose cumulative count covers rank ceil(p/100 * n). Accuracy is
# (hi-lo)/nbins — the engine's answer to "p95 latency over 100 TB"
# where exact order statistics would need a full sort.
#
# Engine-reproducibility: the bin assignment is one IEEE
# subtract/divide/floor chain on shared literals; the rank comparison
# is pure int64 (cum*100 >= p*n — percents are integers, so no float
# rank); the estimate is lo + (bin+0.5)*width, one multiply-add of an
# exact int by shared literals. Bit-identical across engines.


def hist_build(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    lo: float = 0.0,
    hi: float = 1.0,
    nbins: int = 64,
) -> DataFrame:
    """One aggregation pass → (group_cols..., bin, c), ≤ nbins rows per
    group. Out-of-range values clamp into the edge bins."""
    width = (hi - lo) / nbins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("long")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
    return (
        df.select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("c"))
    )


def hist_quantiles(
    hist: DataFrame,
    percents: tuple[int, ...],
    group_cols: tuple[str, ...] = (),
    lo: float = 0.0,
    hi: float = 1.0,
    nbins: int = 64,
) -> DataFrame:
    """Histogram → per-group estimates at integer percents. Rank test is
    exact int64 (cum*100 >= p*n); estimate = the covering bin's
    midpoint."""
    from pyspark.sql.window import Window

    width = (hi - lo) / nbins
    gl = list(group_cols)
    w_cum = (
        Window.partitionBy(*gl).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*gl)
    cum = hist.select(
        *gl,
        "bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    ps = F.explode(F.array(*[F.lit(p) for p in percents])).alias("p")
    hit = cum.select(*gl, "bin", "cum", "n", ps).filter(
        F.col("cum") * 100 >= F.col("p") * F.col("n")
    )
    est = F.lit(lo) + (F.col("bin_idx") + 0.5) * F.lit(width)
    return (
        hit.groupBy(*gl, "p")
        .agg(F.min("bin").alias("bin_idx"), F.min("n").alias("n"))
        .select(
            *gl,
            F.col("p").cast("long").alias("p"),
            est.alias("est_value"),
            F.col("n").cast("long").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch — mergeable distinct-count sketch with SET OPERATIONS
# ---------------------------------------------------------------------------
#
# Bar-Yossef et al. 2002 / Beyer et al. 2007 (KMV), Dasgupta et al. 2016
# (theta sketch): hash every key to 60 bits (15 md5 hex chars, the family
# convention) and keep only the k SMALLEST distinct hash values per
# group. The k-th minimum h_(k) estimates density: with hashes uniform on
# [0, H), NDV ~= (k-1) * H / h_(k). Unlike HLL, the retained sample
# supports SET ALGEBRA across sketches: fix one threshold
# theta = min over sketches of (h_(k) if full else H); every sketch's
# values below theta form a uniform coordinated sample of its key set, so
#   |A INTERSECT B| ~= |{v < theta : v in S_A and v in S_B}| * H / theta
# and the same for union/difference — the "how many users did BOTH
# streams see" question answered from two ≤k-row summaries without ever
# joining the raw key sets. Jaccard falls out as an exact ratio of the
# two sample counts.
#
# Distributed shape: the sketch is ≤k rows per group whatever the input.
# Build = distinct-hash pass (the standard partial-agg NDV shuffle) then
# a SALTED two-phase bottom-k — per-(group, salt) bottom-k first, global
# bottom-k over the ≤salts*k survivors — so no single task ever ranks a
# whole group's distinct-hash set (the same two-phase top-k shape as
# topk_orders_per_segment_twophase). Merge across shards/days = bottom-k
# of a union of sketches: re-run the second phase only.
#
# Engine-reproducibility: everything up to the final estimate is exact
# int64 (md5-derived hashes, integer ranks and counts); each estimate is
# ONE IEEE multiply of an exact small-int count by a shared power-of-two
# literal followed by ONE division — bit-identical on any engine.

KMV_HASH_SPACE = 1 << 60  # exclusive upper bound of the 60-bit hash domain


def kmv_build(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 32,
    salts: int = 8,
) -> DataFrame:
    """One distinct pass + salted two-phase bottom-k → per-group sketch
    (group_cols..., h, r), at most k rows per group, r = 1..k ascending
    by h. The global bottom-k of a group is always contained in the
    union of its per-salt bottom-ks, so phase 2 ranks ≤ salts*k rows."""
    from pyspark.sql.window import Window

    h = md5_h15(F.col(key_col).cast("string"))
    hashes = df.select(*group_cols, h.alias("h")).distinct()
    gl = list(group_cols)
    w1 = Window.partitionBy(*gl, F.col("h") % salts).orderBy("h")
    survivors = (
        hashes.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k)
        .drop("r1")
    )
    w2 = Window.partitionBy(*gl).orderBy("h")
    return (
        survivors.withColumn("r", F.row_number().over(w2).cast("long"))
        .filter(F.col("r") <= k)
    )


def kmv_estimate(
    sk: DataFrame, group_cols: tuple[str, ...] = (), k: int = 32
) -> DataFrame:
    """Sketch → per-group NDV estimate. A non-full sketch holds EVERY
    distinct hash, so the count is exact; a full one estimates
    (k-1) * H / h_(k) — one multiply of shared exact literals and one
    IEEE division."""
    num = float((k - 1) * KMV_HASH_SPACE)  # exact: (k-1) fits the mantissa
    stats = sk.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n"), F.max("h").alias("hk")
    )
    est = F.when(
        F.col("n") < k, F.col("n").cast("double")
    ).otherwise(F.lit(num) / F.col("hk").cast("double"))
    return stats.select(
        *group_cols,
        F.floor(est + F.lit(0.5)).cast("long").alias("est_distinct"),
    )


def user_day_key(user_col: str = "user_id", ts_col: str = "ts"):
    """The (user, day) composite activity key the KMV/OPH overlap
    demos sketch over — defined ONCE so the batch theta query and its
    streaming OPH twin can never silently diverge on key semantics
    (oracle form: CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS
    DATE) AS VARCHAR)). Keyed on the FULL calendar date — a
    day-of-month key would conflate June 3 with July 3 once the events
    table spans more than one month."""
    return F.concat(
        F.col(user_col).cast("string"),
        F.lit(":"),
        F.to_date(ts_col).cast("string"),
    )
