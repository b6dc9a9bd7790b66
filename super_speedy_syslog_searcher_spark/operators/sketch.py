"""Deterministic sketches & sampling for 100 TB training-data
pipelines.

Not in the reference (s4 sketches nothing), but first-class for a
large-scale pipeline: exact distinct counts and random samples don't
scale; *deterministic* hash-based estimates do, and — unlike Spark's
built-in HLL++ `approx_count_distinct` — they are engine-portable, so
the DuckDB oracle reproduces them bit-for-bit.

 * kmv_distinct — K-minimum-values distinct estimator
   (Bar-Yossef et al., "Counting distinct elements in a data
   stream"): keep the K smallest normalized hashes; with the K-th
   smallest at fraction v of the hash space, distinct ≈ (K-1)/v.
   Scale shape: a global top-K over hashes — Spark turns
   orderBy().limit(K) into TakeOrderedAndProject (per-partition
   heaps + a K-row driver merge), never a full sort.
 * stratified_sample — md5-bucket sampling: row kept iff its id
   hashes into the first `pct` of 100 buckets.  Per-stratum
   proportions hold automatically, the choice is stable across runs
   and engines (reproducible train/val splits), and the filter is a
   pure map — no shuffle at all.

Hashes use the first 13 hex digits of md5 (52 bits — exact in the
integer/double ranges of BOTH engines; 15+ digits would exceed 2^53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEX13 = 16 ** 13  # hash-space size (52 bits)


def _h13(col) -> F.Column:
    """md5-based 52-bit uniform hash of a column (engine-portable)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 13), 16, 10
    ).cast("long")


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """K-minimum-values distinct-count estimate for `col`.

    Returns one row (k_used, est_distinct).  When fewer than k
    distinct hashes exist the estimate IS the exact distinct count.
    All-integer math: est = (k-1) * 16^13 // h_k (no float rounding
    to diverge between engines)."""
    mins = (
        df.select(_h13(F.col(col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)  # TakeOrderedAndProject: top-K, not a global sort
    )
    total = (k - 1) * HEX13  # < 2^63 for k ≤ 8192
    return mins.agg(
        F.count("*").cast("bigint").alias("k_used"),
        F.when(F.count("*") < k, F.count("*").cast("bigint"))
        .otherwise(F.expr(f"{total} DIV max(h)").cast("bigint"))
        .alias("est_distinct"),
    )


def shard_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    seed: str = "s4",
) -> DataFrame:
    """Deterministic training-shard assignment + within-shard order —
    the "global shuffle" a pretraining dataloader needs, reproducible
    across engines and runs: shard = h52(id # seed) mod n_shards, pos
    = rank of the hash within the shard (id tiebreak).  Changing the
    seed re-deals the whole shuffle; changing n_shards only re-buckets.

    Scale: the hash is a narrow map; pos sorts n/n_shards rows per
    shard partition.  The hash IS the anti-skew salt (uniform by
    construction), so shard partitions are balanced; at 10^12 rows
    replace row_number with the two-level per-partition-offset recipe
    (merge.py global seq) over the same (shard, hash, id) ordering —
    same output, no single-partition sort.
    """
    h = _h13(
        F.concat(F.col(id_col).cast("string"), F.lit("#" + seed))
    )
    out = df.select(F.col(id_col), h.alias("_h")).withColumn(
        "shard", (F.col("_h") % n_shards).cast("int")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return out.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


def mixture_sample(
    df: DataFrame,
    rates_permille: dict[str, int],
    id_col: str = "doc_id",
    key_col: str = "source",
    seed: str = "mix1",
) -> DataFrame:
    """Weighted mixture sampling — the "data mixing" step of corpus
    assembly: each row is kept with its source's rate (permille),
    decided by the deterministic 52-bit hash of (id # source # seed),
    so the mix is reproducible across engines/runs and re-weighting a
    source never disturbs another source's sample (the hash input
    includes the source).  Sources absent from the map are dropped
    (rate 0).

    Scale: the rate lookup is a literal CASE (whole-stage codegen, no
    join) and the filter is a pure narrow map — zero shuffle at any
    corpus size, like stratified_sample."""
    h = _h13(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit("#"),
            F.col(key_col),
            F.lit("#" + seed),
        )
    )
    rate = None
    for src, pm in sorted(rates_permille.items()):
        cond = F.when(F.col(key_col) == src, F.lit(pm))
        rate = cond if rate is None else rate.when(
            F.col(key_col) == src, F.lit(pm)
        )
    rate = F.lit(0) if rate is None else rate.otherwise(F.lit(0))
    return df.filter((h % 1000) < rate)


def stratified_sample(
    df: DataFrame, id_col: str, pct: int = 10
) -> DataFrame:
    """Deterministic `pct`% sample: keep rows whose id hashes into
    buckets [0, pct) of 100.  A pure narrow filter — the 100 TB
    train/val-split shape (stable across runs, no shuffle, prunable
    if the table is bucketed on the same hash)."""
    bucket = _h13(F.col(id_col)) % 100
    return df.filter(bucket < pct)


def group_split(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "split1",
    val_bucket: int = 8,
    test_bucket: int = 9,
) -> DataFrame:
    """Leakage-safe train/val/test split: the split is decided by the
    52-bit hash of the GROUP key (source/domain/url-host), not the row
    id, so every document of a group lands in the same split — the
    guard against train/test contamination through near-duplicate
    pages of one site (test-pinned: |distinct (group, split)| ==
    |distinct group|).  Buckets 0-7 → train, 8 → val, 9 → test
    (80/10/10); changing `seed` re-deals groups, never rows.

    Scale: a pure narrow map (hash + CASE), zero shuffle at any corpus
    size; stratified_sample's shape with the group key swapped in.
    Output: (id, group, split)."""
    b = _h13(
        F.concat(F.col(group_col).cast("string"), F.lit("#" + seed))
    ) % 10
    split = (
        F.when(F.lit(val_bucket) == b, F.lit("val"))
        .when(F.lit(test_bucket) == b, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.select(
        F.col(id_col), F.col(group_col), split.alias("split")
    )


def int_quantiles(
    df: DataFrame, col: str, qs: tuple[int, ...] = (500, 900, 990)
) -> DataFrame:
    """EXACT order-statistic quantiles of an integer column,
    engine-portable — the profiling step behind length-filter
    thresholds (keep docs under the p99 length, etc.).  Spark's own
    `percentile_approx` is neither exact nor cross-engine stable, and
    float interpolation (`percentile_cont`) has engine-specific tie
    rules; this computes the classic "value at rank ceil(q·n/1000)"
    statistic in pure integer math instead.

    Output: one row per requested permille q — (q_permille, k, value)
    where k = ceil(q·n/1000) and value = min v with cum_count(v) >= k.

    Scale shape: the corpus-side work is ONE partial-agg groupBy on
    the value (map-side combine); everything after runs on the
    distinct-value frequency table, which is tiny (distinct lengths,
    not rows).  The cumulative window and the qs×values comparison
    are driver-scale frames; nothing row-level ever re-shuffles."""
    from pyspark.sql import Window

    freq = df.groupBy(F.col(col).alias("v")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = freq.withColumn("cum", F.sum("c").over(w))
    tot = df.agg(F.count("*").alias("n"))
    spark = df.sparkSession
    qdf = spark.createDataFrame([(int(q),) for q in qs], "q_permille int")
    ranks = qdf.crossJoin(F.broadcast(tot)).select(
        "q_permille",
        F.expr("CAST((q_permille * n + 999) DIV 1000 AS BIGINT)").alias(
            "k"
        ),
    )
    return (
        ranks.crossJoin(cum)
        .groupBy("q_permille", "k")
        .agg(
            F.min(F.when(F.col("cum") >= F.col("k"), F.col("v"))).alias(
                "value"
            )
        )
    )


def curriculum_bins(scores: DataFrame, col: str = "quality_x10k",
                    n_bins: int = 10) -> DataFrame:
    """Curriculum binning: assign every row an exact decile (n_bins)
    bin of an integer score column — the data-ordering step of
    curriculum training (feed bin 0 first, bin 9 last).

    Thresholds are EXACT order statistics from int_quantiles (value at
    rank ceil(k·n/n_bins)); rows equal to a threshold fall in the
    lower bin, so the binning is deterministic under ties and
    identical across engines.  The thresholds (n_bins-1 integers) are
    collected and applied as a literal comparison chain — the corpus
    pass is a narrow map, no shuffle, no global sort, no per-row
    window (an ntile() over a global ORDER BY would single-thread at
    10^12 rows; this doesn't)."""
    step = 1000 // n_bins
    qs = tuple(range(step, 1000, step))
    th = sorted(
        int(r["value"])
        for r in int_quantiles(scores, col, qs=qs).collect()
        if r["value"] is not None
    )
    bin_expr = sum(
        (F.col(col) > t).cast("int") for t in th
    ) if th else F.lit(0)
    return scores.select(
        "doc_id",
        F.col(col),
        bin_expr.cast("int").alias("bin"),
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    key_col: str = "source",
    tok_col=None,
    seed: str = "budget1",
) -> DataFrame:
    """Token-budget corpus assembly: fill each source's token QUOTA
    (not rate) in deterministic hash order — the "give me exactly
    ~2B tokens of src_k" step of mixture building, reproducible
    across engines, runs, and re-sharding.  Docs are ranked per
    source by the 52-bit hash of (id # source # seed) (id tiebreak)
    and kept while the running inclusive token sum stays within the
    budget; the first doc of a source is always kept if any budget
    is granted (so a tiny budget yields 1 doc, not 0).  Sources
    absent from the map are dropped.

    Output: (doc_id, source, n_tokens, cum_tokens) for kept docs.

    Scale shape: one Exchange keyed on source feeds the single
    cumulative-sum window.  Source cardinality is small, so each
    source's scan is one partition — at 10^12 docs use the two-level
    per-partition-offset recipe (merge.py global seq) over the same
    (source, hash, id) order for the running sum; output identical.
    """
    tok = (
        tok_col
        if tok_col is not None
        else F.size(F.split(F.col("text"), " "))
    )
    bud = None
    for src, b in sorted(budgets.items()):
        cond = F.when(F.col(key_col) == src, F.lit(b))
        bud = cond if bud is None else bud.when(
            F.col(key_col) == src, F.lit(b)
        )
    bud = F.lit(0) if bud is None else bud.otherwise(F.lit(-1))
    h = _h13(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit("#"),
            F.col(key_col),
            F.lit("#" + seed),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = df.select(
        F.col(id_col),
        F.col(key_col),
        tok.cast("bigint").alias("n_tokens"),
        h.alias("_h"),
        bud.cast("bigint").alias("_budget"),
    ).filter(F.col("_budget") >= 0)
    return (
        t.withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(w).cast("bigint"),
        )
        .filter(
            (F.col("cum_tokens") <= F.col("_budget"))
            | (
                (F.col("cum_tokens") == F.col("n_tokens"))
                & (F.col("_budget") > 0)
            )
        )
        .select(id_col, key_col, "n_tokens", "cum_tokens")
    )


# ------------------------------------------------------------------
# Count-Min sketch heavy hitters

def cms_cells(
    vocab: DataFrame, d: int = 4, w: int = 1024
) -> DataFrame:
    """Count-Min sketch over a (token, cnt) vocabulary table: d rows
    of w counters, cell[j][hash_j(token) % w] += cnt.  hash_j = the
    52-bit md5 hash salted with the row index — engine-portable and
    pairwise-independent enough for the CM guarantee in practice.

    Scale shape: the corpus is touched ONCE (the vocabulary groupBy
    upstream, map-side combined); the d-way expansion runs on the
    vocabulary-sized table only, and the sketch itself is d*w rows —
    constant-size, mergeable by cell-wise addition across shards
    (how a 100 TB corpus builds it: per-partition sketches + one
    d*w-row reduce)."""
    cj = vocab.select(
        "token",
        "cnt",
        F.explode(F.array(*[F.lit(j) for j in range(d)])).alias("j"),
    ).withColumn(
        "cell",
        (
            _h13(
                F.concat(
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("token"),
                )
            )
            % w
        ).cast("int"),
    )
    return cj.groupBy("j", "cell").agg(
        F.sum("cnt").cast("bigint").alias("c")
    )


def cms_heavy_hitters(
    docs: DataFrame, d: int = 4, w: int = 1024, denom: int = 500
) -> DataFrame:
    """Heavy hitters by Count-Min estimate: every token whose CM
    estimate (min over the d cells it hashes to) reaches
    total_tokens/denom.  The CM overcount guarantee (est >= true
    count, never under) means no true heavy hitter is missed —
    the property that makes the constant-size sketch usable as a
    pre-filter at 100 TB, where the exact vocabulary is a shuffle
    but the sketch is a broadcast.

    Output: (token, cnt, est) — exact count carried alongside so the
    overcount is visible; est >= cnt always.

    Plan: one corpus groupBy (vocab), d*w-row sketch broadcast back
    onto the vocab's d-way expansion, min-reduce, scalar threshold."""
    tok = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    vocab = tok.groupBy("token").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    cells = cms_cells(vocab, d, w)
    cj = vocab.select(
        "token",
        "cnt",
        F.explode(F.array(*[F.lit(j) for j in range(d)])).alias("j"),
    ).withColumn(
        "cell",
        (
            _h13(
                F.concat(
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("token"),
                )
            )
            % w
        ).cast("int"),
    )
    est = (
        cj.join(F.broadcast(cells), ["j", "cell"])
        .groupBy("token", "cnt")
        .agg(F.min("c").cast("bigint").alias("est"))
    )
    total = vocab.agg(
        F.expr(f"sum(cnt) DIV {denom}").cast("bigint").alias("thr")
    )
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est") >= F.col("thr"))
        .select("token", "cnt", "est")
    )


# ------------------------------------------------------------------
# HyperLogLog distinct estimate (integer-exact, engine-portable)

def _alpha_ppm(m: int) -> int:
    """Standard HLL bias-correction constant in parts-per-million."""
    if m == 16:
        a = 0.673
    elif m == 32:
        a = 0.697
    elif m == 64:
        a = 0.709
    else:
        a = 0.7213 / (1 + 1.079 / m)
    return round(a * 1_000_000)


def hll_registers(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """HyperLogLog register table for `col`: bucket = low p bits of
    the 52-bit md5 hash, rho = leading-zero run length + 1 within the
    remaining (52-p)-bit field, register = max rho per bucket.

    The register table IS the persistable sketch: registers from
    disjoint shards merge by element-wise max (tested), which is how
    a 100 TB corpus computes one distinct estimate with a
    2^p-row reduce instead of a corpus-wide distinct shuffle.  Unlike
    Spark's built-in approx_count_distinct (HLL++, JVM-internal
    hashing), every bit here is reproducible in any engine.  Over a
    stream the aggregate runs in complete/update mode with state
    bounded at 2^p rows; max is order- and redelivery-insensitive, so
    the registers equal the batch sketch of everything ingested."""
    m = 1 << p
    rbits = 52 - p
    h = _h13(F.col(col))
    return (
        df.select(
            (h % m).cast("int").alias("bucket"),
            F.floor(h / m).cast("bigint").alias("_rest"),
        )
        .withColumn(
            "rho",
            F.when(F.col("_rest") == 0, F.lit(rbits + 1))
            .otherwise(
                F.lit(rbits + 1)
                - F.length(F.conv(F.col("_rest"), 10, 2))
            )
            .cast("int"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").cast("int").alias("maxrho"))
    )


def lc_table(m: int) -> list[int]:
    """Linear-counting estimates floor(m·ln(m/V)) for V = 1..m empty
    buckets, precomputed ONCE in Python and embedded as integer
    literals in both engines — no runtime ln() whose libm could
    differ between JVM and DuckDB."""
    import math

    return [int(m * math.log(m / v)) for v in range(1, m + 1)]


def hll_distinct(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """One-row HLL distinct-count estimate in pure integer math.

    S = sum over all 2^p buckets of 2^(-rho), expressed exactly as an
    integer numerator over the common denominator 2^(rbits+1):
      S_int = sum_present 2^(rbits+1-maxrho) + (m-used)*2^(rbits+1)
      raw   = (m^2 * 2^(rbits+1)) DIV S_int          (= m^2/S floored)
      est   = (raw DIV 1e6)*alpha_ppm + ((raw % 1e6)*alpha_ppm) DIV 1e6
    That last line equals floor(alpha*raw) exactly while keeping every
    intermediate below 2^63 for raw up to ~9e12 distinct values.

    Small-range correction (Flajolet et al. 2007): when est_raw <=
    2.5m and some bucket is empty, linear counting m·ln(m/V) replaces
    the raw estimate — looked up from lc_table's precomputed integer
    literals (element_at), so the correction is bit-identical across
    engines too.  Expected relative error ~1.04/sqrt(2^p) (6.5% at
    p=8) in the raw regime; LC is much tighter at small n."""
    m = 1 << p
    rb1 = 52 - p + 1
    alpha = _alpha_ppm(m)
    lc = lc_table(m)
    reg = hll_registers(df, col, p)
    return (
        reg.agg(
            F.count("*").cast("bigint").alias("used"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {rb1} - maxrho)")
            ).cast("bigint").alias("sp"),
        )
        .withColumn(
            "s_int",
            (
                F.col("sp")
                + (m - F.col("used")) * F.lit(1 << rb1).cast("bigint")
            ).cast("bigint"),
        )
        .withColumn(
            "raw",
            F.expr(f"CAST({m * m * (1 << rb1)} AS BIGINT) DIV s_int"),
        )
        .withColumn(
            "est_raw",
            F.expr(
                f"(raw DIV 1000000) * {alpha}"
                f" + ((raw % 1000000) * {alpha}) DIV 1000000"
            ).cast("bigint"),
        )
        .select(
            F.lit(m).cast("int").alias("m"),
            F.col("used").cast("bigint").alias("n_buckets_used"),
            "s_int",
            "est_raw",
            F.when(
                (F.col("est_raw") <= F.lit(5 * m // 2))
                & (F.col("used") < m),
                F.element_at(
                    F.array(*[F.lit(v).cast("bigint") for v in lc]),
                    (m - F.col("used")).cast("int"),
                ),
            )
            .otherwise(F.col("est_raw"))
            .cast("bigint")
            .alias("est_distinct"),
        )
    )


# ------------------------------------------------------------------
# Bloom-filter pre-join filter

def bloom_positions(
    keys: DataFrame, col: str, mbits: int = 512, k: int = 4
) -> DataFrame:
    """Bloom filter of a key set as a relation of set-bit positions:
    positions = { h_j(key) % mbits : key in keys, j < k } with the
    salted 52-bit md5 hash — deterministic and engine-portable.  The
    positions table is at most mbits rows, i.e. broadcastable no
    matter how large the key set it summarizes."""
    return (
        keys.select(F.col(col).alias("_k"))
        .select(
            "_k",
            F.explode(
                F.array(*[F.lit(j) for j in range(k)])
            ).alias("j"),
        )
        .select(
            (
                _h13(
                    F.concat(
                        F.col("j").cast("string"), F.lit(":"), F.col("_k")
                    )
                )
                % mbits
            ).cast("int").alias("pos")
        )
        .distinct()
    )


def bloom_prefilter(
    candidates: DataFrame,
    keys: DataFrame,
    cand_col: str = "text",
    key_col: str = "text",
    id_col: str = "doc_id",
    mbits: int = 512,
    k: int = 4,
) -> DataFrame:
    """Membership pre-filter via a Bloom filter of `keys`: a candidate
    passes iff all k of its hash positions are set.  No false
    negatives ever (every true member passes — the property that
    makes the bloom a safe pre-join filter); false positives are the
    price of the constant size, surfaced per row for audit.

    Output: (id, bloom_pass, exact, false_positive).

    Scale shape: the positions relation is collected into an
    mbits-bit literal bitmask — BOUNDED driver traffic (mbits/64
    longs, never key-set-sized) — and the membership test is then a
    PURE NARROW MAP over the candidates (k hash + bit probes per row,
    zero candidate-side shuffle): the hand-rolled form of what
    Spark's runtime bloom-filter pushdown
    (spark.sql.optimizer.runtime.bloomFilter.enabled) broadcasts,
    here deterministic and engine-checkable.  Only the `exact` audit
    column pays a join, and that one is a broadcast left-semi of the
    key digests; production keeps only bloom_pass and lets the
    (cheap, rare) false positives fall out of the real join."""
    # bounded collect: <= mbits rows regardless of |keys|
    words = [0] * ((mbits + 63) // 64)
    for r in bloom_positions(keys, key_col, mbits, k).collect():
        words[r["pos"] >> 6] |= 1 << (r["pos"] & 63)
    # int64 literals (bit 63 wraps to the sign bit; arithmetic >>
    # sign-extends HIGH bits only, so `(w >> s) & 1` stays exact)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    mask_sql = "array(" + ",".join(f"{w}L" for w in words) + ")"

    cand = candidates.select(
        F.col(id_col).alias("_id"), F.col(cand_col).alias("_c")
    )
    probes = []
    for j in range(k):
        cand = cand.withColumn(
            f"_p{j}",
            (
                _h13(
                    F.concat(
                        F.lit(f"{j}:"), F.col("_c")
                    )
                )
                % mbits
            ).cast("int"),
        )
        probes.append(
            f"(shiftright(element_at({mask_sql},"
            f" CAST(_p{j} DIV 64 AS INT) + 1), _p{j} % 64) & 1) = 1"
        )
    cand = cand.withColumn("bloom_pass", F.expr(" AND ".join(probes)))
    exact = (
        keys.select(F.md5(F.col(key_col)).alias("_kd"))
        .distinct()
        .withColumn("exact", F.lit(True))
    )
    return (
        cand.withColumn("_kd", F.md5("_c"))
        .join(F.broadcast(exact), "_kd", "left")
        .select(
            F.col("_id").cast("bigint").alias(id_col),
            "bloom_pass",
            F.coalesce("exact", F.lit(False)).alias("exact"),
            (
                F.col("bloom_pass") & ~F.coalesce("exact", F.lit(False))
            ).alias("false_positive"),
        )
    )


def hll_group_distinct(
    df: DataFrame, group_col: str, col: str, p: int = 8
) -> DataFrame:
    """Per-group HLL distinct estimate — hll_distinct generalized to
    one sketch per group key, all in the same two map-side-combined
    aggregates (groupBy(group, bucket) max, then groupBy(group)):
    the GROUPED distinct-count shape (uniques per hour / per domain /
    per shard) where exact count(DISTINCT) would shuffle every row
    and the sketch shuffles at most 2^p rows per group.

    Output: (group, n_buckets_used, s_int, est_raw, est_distinct) —
    same integer-exact math and precomputed linear-counting literals
    as hll_distinct."""
    m = 1 << p
    rb1 = 52 - p + 1
    alpha = _alpha_ppm(m)
    lc = lc_table(m)
    h = _h13(F.col(col))
    reg = (
        df.select(
            F.col(group_col).alias("grp"),
            (h % m).cast("int").alias("bucket"),
            F.floor(h / m).cast("bigint").alias("_rest"),
        )
        .withColumn(
            "rho",
            F.when(F.col("_rest") == 0, F.lit(rb1))
            .otherwise(
                F.lit(rb1) - F.length(F.conv(F.col("_rest"), 10, 2))
            )
            .cast("int"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("maxrho"))
    )
    return (
        reg.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("used"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {rb1} - maxrho)")
            ).cast("bigint").alias("sp"),
        )
        .withColumn(
            "s_int",
            (
                F.col("sp")
                + (m - F.col("used")) * F.lit(1 << rb1).cast("bigint")
            ).cast("bigint"),
        )
        .withColumn(
            "raw",
            F.expr(f"CAST({m * m * (1 << rb1)} AS BIGINT) DIV s_int"),
        )
        .withColumn(
            "est_raw",
            F.expr(
                f"(raw DIV 1000000) * {alpha}"
                f" + ((raw % 1000000) * {alpha}) DIV 1000000"
            ).cast("bigint"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("used").cast("bigint").alias("n_buckets_used"),
            "s_int",
            "est_raw",
            F.when(
                (F.col("est_raw") <= F.lit(5 * m // 2))
                & (F.col("used") < m),
                F.element_at(
                    F.array(*[F.lit(v).cast("bigint") for v in lc]),
                    (m - F.col("used")).cast("int"),
                ),
            )
            .otherwise(F.col("est_raw"))
            .cast("bigint")
            .alias("est_distinct"),
        )
    )


def temperature_mix(
    df: DataFrame,
    budget: int,
    alpha_half: bool = True,
    id_col: str = "doc_id",
    key_col: str = "source",
    seed: str = "temp1",
) -> DataFrame:
    """Temperature-based mixture sampling (the third canonical mixing
    scheme beside mixture_sample's rates and token_budget_sample's
    quotas): source s contributes target_s = budget * n_s^alpha /
    sum_t n_t^alpha documents — alpha = 1/2 here, flattening the
    source distribution the way multilingual/multi-domain pretraining
    mixes do (alpha=1 is proportional, alpha=0 uniform).

    Everything integer-exact so both engines agree bit-for-bit:
    n_s^(1/2) is math.isqrt (the DuckDB oracle computes the same
    floor-sqrt as max i with i*i <= n — no float pow), target_s =
    (budget * isqrt(n_s)) DIV tot, and the kept set is the first
    target_s docs of each source in deterministic 52-bit-hash order
    (id tiebreak).

    Output: (id, key, pick_rank) for kept docs.

    Scale shape: the per-source count is one map-side-combined
    groupBy whose result is SOURCE-cardinality-sized (collected, like
    curriculum_bins' thresholds, and re-emitted as a literal CASE);
    ranking is one window per source partition — at 10^12 docs use
    the merge.py two-level per-partition-offset recipe over the same
    (source, hash, id) order, output identical."""
    import math

    from pyspark.sql import Window

    counts = {
        r["k"]: int(r["n"])
        for r in df.groupBy(F.col(key_col).alias("k"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not alpha_half:
        raise NotImplementedError("only alpha=1/2 is wired")
    sq = {k: math.isqrt(n) for k, n in counts.items()}
    tot = sum(sq.values())
    target = {k: (budget * s) // tot for k, s in sq.items()}
    # per-source targets re-attach via a BROADCAST LOOKUP JOIN, not a
    # literal WHEN chain: a key-per-branch CASE grows the generated
    # code linearly with source count and was the top codegen-64KB
    # fallback source in the round-6 sweep (guide §3.1 / verdict item
    # 4 — broadcast the side that fits instead of inlining it)
    key_type = df.schema[key_col].dataType.simpleString()
    tgt_df = df.sparkSession.createDataFrame(
        [(k, int(t)) for k, t in sorted(target.items())],
        f"{key_col} {key_type}, _tgt bigint",
    )
    h = _h13(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit("#"),
            F.col(key_col),
            F.lit("#" + seed),
        )
    )
    w = Window.partitionBy(key_col).orderBy("_h", id_col)
    return (
        df.select(F.col(id_col), F.col(key_col), h.alias("_h"))
        .join(F.broadcast(tgt_df), key_col, "left")
        .withColumn("pick_rank", F.row_number().over(w).cast("bigint"))
        .filter(
            F.col("pick_rank") <= F.coalesce(F.col("_tgt"), F.lit(0))
        )
        .select(id_col, key_col, "pick_rank")
    )


def log2_histogram(df: DataFrame, col: str) -> DataFrame:
    """Mergeable power-of-two histogram of a non-negative integer
    column — the constant-size distribution profile (latency /
    length / size columns) that replaces exact quantiles when all you
    need is the shape: bucket = floor(log2(v)) computed EXACTLY as
    length(binary(v)) - 1 (the HLL rho recipe — no float log), v = 0
    in bucket -1.  At most 64 rows regardless of input size;
    disjoint shards merge by (sum, min, max) per bucket
    (test-pinned), so a 100 TB profile is a 64-row reduce.

    Output: (bucket, n, min_v, max_v)."""
    b = (
        F.when(F.col(col) <= 0, F.lit(-1))
        .otherwise(
            F.length(F.conv(F.col(col).cast("long"), 10, 2)) - 1
        )
        .cast("int")
    )
    return (
        df.select(F.col(col).cast("long").alias("v"), b.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("v").cast("bigint").alias("min_v"),
            F.max("v").cast("bigint").alias("max_v"),
        )
    )
