"""Cardinality and frequency sketches: distinct counts, group overlap,
point frequencies, and join sizes without exact aggregation.

At 10^12 rows, ``COUNT(DISTINCT col)`` per group shuffles every distinct
(group, value) pair and a join-size probe executes the join — the sketch
alternatives keep O(R) or O(depth·width) state and partial-aggregate
map-side like any plain ``MIN``/``COUNT``. Two families live here:

* **order-statistics cardinality** (the KMV/bottom-k family in its
  stochastic-averaging form, cf. Lumbroso 2010; HyperLogLog is the same
  idea with log-size registers): per group keep ``m_i = MIN(g_i(v))``
  for R hashes; the minimum of n uniform draws is ≈ 1/n, so the MLE
  over R independent minima is ``n̂ = (R-1)/Σ m_i`` (relative error
  ≈ 1/√(R-2)). Elementwise-MIN merges sketches, which also gives union
  (and by inclusion–exclusion, intersection) estimates.
* **count-min frequencies**: depth hash rows × width counters; point
  estimates and join-size inner products take MIN over rows
  (overestimate-only).

Hashing is **one md5 per row** with the R per-sketch hashes derived by
Kirsch–Mitzenmacher double hashing: the 128-bit digest splits into two
48-bit halves ``(h1, h2)`` and ``g_i = (h1 + i·h2) mod 2^48`` — the
standard constant-hash-count construction for Bloom/CMS/KMV families,
~R× cheaper than salting R real hashes. Everything stays exact-integer
(estimates via integer division), so the DuckDB oracles are
bit-identical: no floating point anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_spark.session import local_df

HASH_BITS = 48  # 12 hex chars per md5 half
HASH_MOD = 1 << HASH_BITS
R_DEFAULT = 32


def _hash_halves(col):
    """(h1, h2): two independent 48-bit halves of one md5(value)."""
    hexs = F.md5(col.cast("string"))
    h1 = F.conv(F.substring(hexs, 1, 12), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(hexs, 13, 12), 16, 10).cast("bigint")
    return h1, h2


def _g(h1, h2, i: int):
    """i-th derived hash in [0, 2^48): (h1 + i·h2) mod 2^48."""
    if i == 0:
        return h1
    return (h1 + F.lit(i) * h2) % F.lit(HASH_MOD)


# ---------------------------------------------------------------- SQL twins

_FOLD = (
    "list_reduce(list_transform(string_split_regex({hex}, ''), "
    "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
    "(acc, x) -> acc * 16 + x)"
)


def _halves_sql(expr: str) -> tuple[str, str]:
    """DuckDB h1/h2 expressions (digit-fold; DuckDB has no base-16
    conv)."""
    h1 = _FOLD.format(hex=f"substr(md5({expr}), 1, 12)")
    h2 = _FOLD.format(hex=f"substr(md5({expr}), 13, 12)")
    return h1, h2


def _g_sql(i: int) -> str:
    if i == 0:
        return "h1"
    return f"(h1 + {i} * h2) % {HASH_MOD}"


def sketch_mins(
    df: DataFrame, group: str, col: str, r: int = R_DEFAULT
) -> DataFrame:
    """The raw sketch build shared by every estimator (and the streaming
    maintainer): one md5 per row → per-group MIN of each of the r
    derived hashes. Returns ``(group, m0..m{r-1})`` — mergeable across
    shards/batches by elementwise MIN."""
    h1, h2 = _hash_halves(F.col(col))
    hashed = df.select(F.col(group), h1.alias("h1"), h2.alias("h2"))
    # single-string expressions: one py4j/parse round-trip per column
    # instead of ~5 per derived hash (measured ~1s of driver-side plan
    # construction at r=32 with the Column-algebra formulation)
    return hashed.groupBy(group).agg(
        *[F.expr(f"min({_g_sql(i)})").alias(f"m{i}") for i in range(r)]
    )


def distinct_sketch(
    df: DataFrame, group: str, col: str, r: int = R_DEFAULT
) -> DataFrame:
    """Estimated distinct ``col`` per ``group`` with O(r) state.

    Returns ``(group, sum_min, est_distinct)`` — ``sum_min`` is the raw
    sketch (Σ of the r per-hash minima; mergeable across shards by
    taking mins before summing), ``est_distinct`` the integer MLE
    ``(r-1)·2^48 div sum_min``. One shuffle, map-side combinable; one
    md5 per input row.
    """
    agg = sketch_mins(df, group, col, r)
    total = F.expr(" + ".join(f"m{i}" for i in range(r)))
    scale = (r - 1) * HASH_MOD
    return agg.select(F.col(group), total.alias("sum_min")).select(
        group,
        "sum_min",
        # integer division (`div`), matching DuckDB's `//` exactly —
        # double division + cast could round differently at boundaries
        F.expr(f"CAST({scale} AS BIGINT) div sum_min").alias(
            "est_distinct"
        ),
    )


def distinct_sketch_oracle_sql(
    source_cte: str, group: str, col: str, r: int = R_DEFAULT
) -> str:
    """DuckDB twin of :func:`distinct_sketch` over a CTE named
    ``source_cte`` with columns ``group`` and ``col``."""
    h1, h2 = _halves_sql(col)
    mins = ", ".join(f"MIN({_g_sql(i)}) AS m{i}" for i in range(r))
    total = " + ".join(f"m{i}" for i in range(r))
    scale = (r - 1) * HASH_MOD
    return f"""
skh AS (SELECT {group}, {h1} AS h1, {h2} AS h2 FROM {source_cte}),
sk AS (SELECT {group}, {mins} FROM skh GROUP BY {group}),
sk2 AS (SELECT {group}, ({total}) AS sum_min FROM sk)
SELECT {group}, sum_min,
       CAST({scale} AS BIGINT) // sum_min AS est_distinct
FROM sk2
"""


def sketch_overlap(
    df: DataFrame, group: str, col: str, r: int = R_DEFAULT
) -> DataFrame:
    """Pairwise overlap estimates between groups, from sketches alone.

    The union sketch of two groups is the elementwise MIN of their
    per-hash minima (the mergeability property), so
    ``|A ∪ B|`` estimates without touching the raw data again and
    ``|A ∩ B| ≈ max(0, n̂_A + n̂_B − n̂_{A∪B})`` by inclusion–exclusion.
    The pair join runs over the *sketch table* — one row of R bigints
    per group — which is why the quadratic pair blow-up is affordable:
    at 10^12 rows the raw pairwise intersection is unthinkable, the
    sketch algebra is G²·R integer ops.

    Returns ``(<group>_a, <group>_b, est_a, est_b, est_union,
    est_overlap)`` for every unordered pair (a < b), all BIGINT.
    """
    sk = sketch_mins(df, group, col, r)
    a = sk.select(
        F.col(group).alias("ga"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(r)],
    )
    b = sk.select(
        F.col(group).alias("gb"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(r)],
    )
    pairs = a.join(b, F.col("ga") < F.col("gb"))

    sum_a = " + ".join(f"a{i}" for i in range(r))
    sum_b = " + ".join(f"b{i}" for i in range(r))
    sum_u = " + ".join(f"least(a{i}, b{i})" for i in range(r))
    scale = (r - 1) * HASH_MOD
    with_sums = pairs.select(
        F.col("ga").alias(f"{group}_a"),
        F.col("gb").alias(f"{group}_b"),
        F.expr(sum_a).alias("sa"),
        F.expr(sum_b).alias("sb"),
        F.expr(sum_u).alias("su"),
    )
    return with_sums.select(
        f"{group}_a",
        f"{group}_b",
        F.expr(f"CAST({scale} AS BIGINT) div sa").alias("est_a"),
        F.expr(f"CAST({scale} AS BIGINT) div sb").alias("est_b"),
        F.expr(f"CAST({scale} AS BIGINT) div su").alias("est_union"),
    ).select(
        f"{group}_a",
        f"{group}_b",
        "est_a",
        "est_b",
        "est_union",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.col("est_a") + F.col("est_b") - F.col("est_union"),
        ).alias("est_overlap"),
    )


def sketch_overlap_oracle_sql(
    source_cte: str, group: str, col: str, r: int = R_DEFAULT
) -> str:
    """DuckDB twin of :func:`sketch_overlap` over CTE ``source_cte``."""
    h1, h2 = _halves_sql(col)
    mins = ", ".join(f"MIN({_g_sql(i)}) AS m{i}" for i in range(r))
    sum_a = " + ".join(f"a.m{i}" for i in range(r))
    sum_b = " + ".join(f"b.m{i}" for i in range(r))
    sum_u = " + ".join(f"LEAST(a.m{i}, b.m{i})" for i in range(r))
    scale = (r - 1) * HASH_MOD
    return f"""
skh AS (SELECT {group}, {h1} AS h1, {h2} AS h2 FROM {source_cte}),
sk AS (SELECT {group}, {mins} FROM skh GROUP BY {group}),
pr AS (
  SELECT a.{group} AS {group}_a, b.{group} AS {group}_b,
         ({sum_a}) AS sa, ({sum_b}) AS sb, ({sum_u}) AS su
  FROM sk a JOIN sk b ON a.{group} < b.{group}),
est AS (
  SELECT {group}_a, {group}_b,
         CAST({scale} AS BIGINT) // sa AS est_a,
         CAST({scale} AS BIGINT) // sb AS est_b,
         CAST({scale} AS BIGINT) // su AS est_union
  FROM pr)
SELECT {group}_a, {group}_b, est_a, est_b, est_union,
       GREATEST(CAST(0 AS BIGINT), est_a + est_b - est_union) AS est_overlap
FROM est
"""


CMS_DEPTH = 4
CMS_WIDTH = 1024


def count_min_sketch(
    df: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch of a column's value frequencies.

    ``depth`` independent hash rows of ``width`` counters: every value
    increments counter ``(d, g_d(v) mod width)``; a point query reads
    its ``depth`` counters and takes the MIN (overestimates only, never
    under). The build is one md5 per row + one explode (×depth) + one
    partial-aggregating count — O(depth·width) final state regardless
    of input size, the frequency-sketch complement to
    :func:`distinct_sketch`'s cardinality estimator.
    Returns ``(d, bucket, cnt)``.
    """
    h1, h2 = _hash_halves(F.col(col))
    rows = df.select(h1.alias("h1"), h2.alias("h2")).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            _g(F.col("h1"), F.col("h2"), d) % width
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("s")
    )
    return (
        rows.select("s.d", "s.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_point_estimates(
    sketch: DataFrame,
    terms: list[str],
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Frequency estimates for a fixed term list from a CMS table: the
    (term, d, bucket) probe set is a literal (|terms|·depth rows) that
    joins the broadcast sketch; estimate = MIN over depth rows (absent
    bucket → 0). Returns ``(term, est_count)``."""
    spark = sketch.sparkSession
    probes = local_df(
        spark,
        [(t, d) for t in terms for d in range(depth)],
        "term string, d bigint",
    )
    h1, h2 = _hash_halves(F.col("term"))
    probes = probes.withColumn(
        "bucket",
        (h1 + F.col("d") * h2) % F.lit(HASH_MOD) % width,
    )
    # the sketch is the broadcast side: its final size is depth·width
    # rows no matter how big the input was — that bound is the point
    return (
        probes.join(F.broadcast(sketch), on=["d", "bucket"], how="left")
        .groupBy("term")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count")
        )
    )


def cms_oracle_sql(
    source_cte: str,
    col: str,
    terms: list[str],
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    """DuckDB twin of build + point estimates for a fixed term list."""
    h1, h2 = _halves_sql(col)
    ph1, ph2 = _halves_sql("term")
    vals = ", ".join(f"('{t}')" for t in terms)
    ds = ", ".join(f"({d})" for d in range(depth))
    return f"""
depths AS (SELECT * FROM (VALUES {ds}) AS t(d)),
cmsh AS (SELECT {h1} AS h1, {h2} AS h2 FROM {source_cte}),
cms AS (
  SELECT d, ((h1 + d * h2) % {HASH_MOD}) % {width} AS bucket,
         COUNT(*) AS cnt
  FROM cmsh CROSS JOIN depths GROUP BY 1, 2),
probes AS (
  SELECT term, d,
         (({ph1} + d * {ph2}) % {HASH_MOD}) % {width} AS bucket
  FROM (VALUES {vals}) AS t(term) CROSS JOIN depths)
SELECT p.term, MIN(COALESCE(c.cnt, 0)) AS est_count
FROM probes p LEFT JOIN cms c ON c.d = p.d AND c.bucket = p.bucket
GROUP BY p.term
"""


BLOOM_BITS_LOG2 = 20  # 2^20-bit filter
BLOOM_HASHES = 3


def bloom_prefilter_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    bits_log2: int = BLOOM_BITS_LOG2,
    hashes: int = BLOOM_HASHES,
    exact_verify: bool = True,
) -> DataFrame:
    """Semi-join with a Bloom-style membership pre-filter.

    The exact semi-join's shuffle carries every ``big`` row; at
    10^12 rows, rows that cannot possibly match are the bulk of it.
    This builds the small side's Bloom filter as a *distinct bit-index
    table* (≤ |small|·hashes rows, bounded by 2^bits_log2), broadcast
    left-semi-joins the big side against it per hash (k membership
    probes = k semi-joins on the bit index — conjunctive, so survivors
    set ALL k bits), then finishes with the exact semi-join on the
    survivors only. False positives are removed by the exact step;
    false negatives cannot happen — the result is EXACTLY the plain
    semi-join (the oracle), only the shuffle volume changes.

    Mirrors Spark's own runtime-filter optimization
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) as an explicit,
    engine-portable operator. ``exact_verify=False`` returns the
    pre-filter survivors (false positives included) — for inspecting
    the pruning rate, never for results.
    """
    mask = (1 << bits_log2) - 1
    h1s, h2s = _hash_halves(F.col(small_key))
    h1b, h2b = _hash_halves(F.col(big_key))
    filtered = big
    for i in range(hashes):
        bits = (
            small.select(
                ((_g(h1s, h2s, i)) % F.lit(mask + 1)).alias("__bit")
            ).distinct()
        )
        filtered = filtered.join(
            F.broadcast(bits),
            (_g(h1b, h2b, i) % F.lit(mask + 1)) == F.col("__bit"),
            "left_semi",
        )
    if not exact_verify:
        return filtered
    return filtered.join(
        small.select(F.col(small_key).alias(big_key)).distinct(),
        on=big_key,
        how="left_semi",
    )


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Equi-join cardinality estimate from two count-min sketches.

    ``|L ⋈ R| = Σ_v f_L(v)·f_R(v)`` — estimated per hash row as the
    bucket-wise inner product of the two sketches, taking the MIN over
    the ``depth`` rows (collisions only ever inflate a row's estimate).
    The classic AQE/planner statistic: both sides reduce to
    O(depth·width) counters with one partial-aggregating pass each, and
    the estimate itself is a ``depth·width``-row join — no shuffle of
    the actual tables, no execution of the join being sized. Exact
    integer arithmetic end to end. Returns one row ``(est_join_rows)``.
    """
    l_cms = count_min_sketch(
        left.select(F.col(left_key).cast("string").alias("k")),
        "k",
        depth,
        width,
    )
    r_cms = count_min_sketch(
        right.select(F.col(right_key).cast("string").alias("k")),
        "k",
        depth,
        width,
    )
    per_row = (
        l_cms.join(
            r_cms.withColumnRenamed("cnt", "rcnt"), on=["d", "bucket"]
        )
        .groupBy("d")
        .agg(F.sum(F.col("cnt") * F.col("rcnt")).alias("dot"))
    )
    return per_row.agg(F.min("dot").alias("est_join_rows"))


def cms_join_size_oracle_sql(
    left_cte: str,
    right_cte: str,
    left_key: str,
    right_key: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    """DuckDB twin of :func:`cms_join_size` (keys cast to VARCHAR)."""
    lh1, lh2 = _halves_sql(f"CAST({left_key} AS VARCHAR)")
    rh1, rh2 = _halves_sql(f"CAST({right_key} AS VARCHAR)")
    ds = ", ".join(f"({d})" for d in range(depth))
    return f"""
jdepths AS (SELECT * FROM (VALUES {ds}) AS t(d)),
lh AS (SELECT {lh1} AS h1, {lh2} AS h2 FROM {left_cte}),
rh AS (SELECT {rh1} AS h1, {rh2} AS h2 FROM {right_cte}),
lcms AS (
  SELECT d, ((h1 + d * h2) % {HASH_MOD}) % {width} AS bucket,
         COUNT(*) AS cnt
  FROM lh CROSS JOIN jdepths GROUP BY 1, 2),
rcms AS (
  SELECT d, ((h1 + d * h2) % {HASH_MOD}) % {width} AS bucket,
         COUNT(*) AS rcnt
  FROM rh CROSS JOIN jdepths GROUP BY 1, 2),
dots AS (
  SELECT l.d, SUM(l.cnt * r.rcnt) AS dot
  FROM lcms l JOIN rcms r ON l.d = r.d AND l.bucket = r.bucket
  GROUP BY l.d)
SELECT MIN(dot) AS est_join_rows FROM dots
"""
