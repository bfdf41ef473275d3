"""Count-min sketch over document tokens — a mergeable frequency sketch
built entirely from deterministic SQL, so the Spark plan and the DuckDB
oracle agree bit-for-bit (no engine-native approx functions, which hash
differently per engine and cannot cross-verify).

Why a sketch at 100 TB: exact per-token counts need a shuffle keyed by
token (heavy-tailed — 'the' is a hot key); the CMS is a fixed
``DEPTH × WIDTH`` integer grid built with map-side partial aggregation on
at most ``DEPTH × WIDTH`` distinct keys, merges across partitions/days by
cell-wise addition, and answers point queries with the classic one-sided
guarantee (estimate >= true count; overestimate bounded by collisions,
P[err > 2N/WIDTH] < 2^-DEPTH).

Determinism: row hashes are ``md5_int`` of a salted token
(``dialect.md5_int`` — verified identical across engines), bucket =
``hash % WIDTH``.  Counts are BIGINTs.  The verification query joins the
sketch estimates back to the exact counts of the top tokens and asserts
``est >= exact`` (the CMS invariant) — made explicit in the output so the
oracle gate re-proves the guarantee every round, not just the values.
"""

from __future__ import annotations

from ..functions import dialect as X
from ..operators.decontaminate import word_grams_cte
from ..operators.text import tokens_expr

CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPK = 20  # cms_sql probes the exact global top-CMS_TOPK tokens


def bucket_expr(d: str, row: str, token: str) -> str:
    """Sketch column for ``token`` in sketch row ``row``: 60-bit md5 of the
    salted token, modulo the sketch width."""
    salted = f"CAST({row} AS STRING) || ':' || {token}"
    return f"({X.md5_int(d, salted)} % {CMS_WIDTH})"


def _tokens_src(d: str, table: str) -> str:
    return (
        f"(SELECT {X.explode_tokens(d, tokens_expr(d))} AS token FROM {table})"
    )


def _rows_src(d: str) -> str:
    """One row per (token occurrence, sketch row): the DEPTH-way fan-out."""
    if d == X.SPARK:
        return (
            "(SELECT token, r FROM toks "
            f"LATERAL VIEW explode(sequence(0, {CMS_DEPTH - 1})) g AS r)"
        )
    return (
        f"(SELECT token, g.r FROM toks, "
        f"generate_series(0, {CMS_DEPTH - 1}) g(r))"
    )


def cms_sql(d: str, table: str = "documents") -> str:
    """Build the sketch, then estimate the exact global top-CMS_TOPK tokens
    against it.  Output: token, exact count, CMS estimate, and the
    invariant flag ``est_ge_exact`` (must be all-1)."""
    build_bucket = bucket_expr(d, "r", "token")
    probe_bucket = bucket_expr(d, "r", "token")
    # Fan the probe side out with a generator, not a cross join — the fleet
    # plan guard forbids cartesian products, and a generator is the honest
    # plan anyway (no join needed to enumerate DEPTH sketch rows).
    if d == X.SPARK:
        probe_fan = (
            "(SELECT token, exact_cnt, r FROM exact "
            f"LATERAL VIEW explode(sequence(0, {CMS_DEPTH - 1})) g AS r)"
        )
    else:
        probe_fan = (
            "(SELECT token, exact_cnt, g.r FROM exact, "
            f"generate_series(0, {CMS_DEPTH - 1}) g(r))"
        )
    return f"""
WITH toks AS (SELECT token FROM {_tokens_src(d, table)} t),
fanned AS (SELECT token, r, {build_bucket} AS b FROM {_rows_src(d)} f),
cms AS (
  SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cell
  FROM fanned GROUP BY r, b
),
exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM toks GROUP BY token
  ORDER BY exact_cnt DESC, token LIMIT {CMS_TOPK}
),
probes AS (
  SELECT token, exact_cnt, r, {probe_bucket} AS b FROM {probe_fan} pf
),
est AS (
  SELECT p.token, p.exact_cnt, CAST(MIN(c.cell) AS BIGINT) AS cms_est
  FROM probes p JOIN cms c ON p.r = c.r AND p.b = c.b
  GROUP BY p.token, p.exact_cnt
)
SELECT token, exact_cnt, cms_est,
  CASE WHEN cms_est >= exact_cnt THEN 1 ELSE 0 END AS est_ge_exact
FROM est
"""


# --------------------------------------------------------------------------
# HyperLogLog, deterministic-by-construction.  Engine-native HLLs
# (approx_count_distinct) use engine-private hashes and cannot cross-verify;
# this one is pure integer SQL on md5_int, so Spark and DuckDB produce the
# IDENTICAL register array and estimate.
#
# rho (rank) uses trailing zeros of the remaining hash bits — same geometric
# distribution as leading zeros, and computable with pure bit arithmetic:
# tz(x) = bit_count((x & -x) - 1).  The raw-estimate denominator
# sum(2^-rho) is accumulated as exact scaled BIGINTs (2^(HLL_REST-rho)),
# so no float summation order can perturb it; the only float op is one
# final division of exact integers.  No bias/linear-counting correction is
# applied (ln() is libm-dependent) — the raw estimator's accuracy is
# asserted in pytest, the determinism in the oracle gate.
# --------------------------------------------------------------------------

HLL_BUCKETS = 64  # m
HLL_REST = 54  # usable bits after the 6 bucket bits of the 60-bit hash
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007)


def hll_sql(d: str, table: str = "documents") -> str:
    # Cardinality source: distinct word 3-grams (thousands at smoke scale) —
    # raw HLL without the linear-counting correction is only unbiased when
    # n >> m, and the correction needs ln(), which is libm-dependent.
    h = X.md5_int(d, "token")
    rest = X.idiv(d, "h", str(HLL_BUCKETS))
    # tz(x) = bit_count((x & -x) - 1): isolate the lowest set bit, turn
    # everything below it into ones, count them.  Same syntax both engines.
    tz = "bit_count((rest & -rest) - 1)"
    rho = f"CASE WHEN rest = 0 THEN {HLL_REST} ELSE LEAST({tz} + 1, {HLL_REST}) END"
    # denominator: sum(2^-register) over all m buckets; hit buckets are
    # accumulated as exact scaled BIGINTs 2^(REST-register), empty buckets
    # contribute 2^0 = 1 each.
    scale = 1 << HLL_REST
    return f"""
WITH toks AS (
  SELECT DISTINCT gram AS token
  FROM {word_grams_cte(d, 3, table)} wg
),
hashed AS (
  SELECT h % {HLL_BUCKETS} AS bucket, {rest} AS rest
  FROM (SELECT {h} AS h FROM toks) hh
),
regs AS (
  SELECT bucket, CAST(MAX({rho}) AS BIGINT) AS register
  FROM hashed GROUP BY bucket
),
padded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS buckets_hit,
    CAST(SUM({X.shiftleft(d, "1", f"{HLL_REST} - register")}) AS BIGINT)
      AS sum_scaled
  FROM regs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS n_exact,
  buckets_hit,
  CAST({_HLL_ALPHA} * {HLL_BUCKETS} * {HLL_BUCKETS} AS DOUBLE)
    / (CAST(sum_scaled AS DOUBLE) / {scale}.0
       + ({HLL_BUCKETS} - buckets_hit)) AS hll_raw_est
FROM padded
"""


# --------------------------------------------------------------------------
# Bloom filter — the join-pruning sketch.  At 100 TB the canonical use is
# semi-join pushdown: build a ~KB bit array over the dim side's join keys,
# broadcast it, and drop non-matching fact rows AT THE SCAN, before the
# shuffle (Spark's runtime bloom-filter injection does exactly this; the
# session enables spark.sql.optimizer.runtime.bloomFilter.enabled).  This
# SQL-native build/probe makes the mechanism itself testable cross-engine:
# md5-salted bit positions, per-word BIT_OR aggregation (mergeable), probe
# = all K bits set.  No false negative is possible by construction; the
# false-positive rate is measured on a disjoint probe set.
# --------------------------------------------------------------------------

BLOOM_BITS = 1024
# 63-bit words: DuckDB range-checks 1<<63 (sign bit) where Spark wraps, so
# bit masks stay within the positive BIGINT range on both engines.
BLOOM_WORD_BITS = 63
BLOOM_K = 3


def _bloom_fan(d: str, src: str, cols: str) -> str:
    """cols + hash index j in 0..K-1 from subquery ``src``."""
    if d == X.SPARK:
        return (
            f"(SELECT {cols}, j FROM {src} "
            f"LATERAL VIEW explode(sequence(0, {BLOOM_K - 1})) g AS j)"
        )
    return f"(SELECT {cols}, g.j FROM {src} sq, generate_series(0, {BLOOM_K - 1}) g(j))"


def _bloom_pos(d: str, key: str) -> str:
    salted = f"CAST(j AS STRING) || '#' || CAST({key} AS STRING)"
    return f"({X.md5_int(d, salted)} % {BLOOM_BITS})"


def bloom_sql(d: str, table: str = "orders") -> str:
    """Build a Bloom filter over the distinct ``o_custkey`` set of orders,
    then probe (a) the member set itself — must be all-positive, the
    no-false-negative guarantee — and (b) a disjoint shifted key set —
    positives there are the measured false-positive count.  Output: one
    row per probe set with totals; deterministic on both engines."""
    pos = _bloom_pos(d, "k")
    word = X.idiv(d, pos, str(BLOOM_WORD_BITS))
    mask = X.shiftleft(d, "1", f"{pos} % {BLOOM_WORD_BITS}")
    keys = f"(SELECT DISTINCT o_custkey AS k FROM {table})"
    probes = (
        f"(SELECT k, 'members' AS probe_set FROM {keys} m "
        f"UNION ALL SELECT k + 10000000, 'disjoint' FROM {keys} s)"
    )
    return f"""
WITH bloom AS (
  SELECT w, CAST(bit_or(mask) AS BIGINT) AS word_val
  FROM (
    SELECT CAST({word} AS BIGINT) AS w, CAST({mask} AS BIGINT) AS mask
    FROM {_bloom_fan(d, keys, "k")} f
  ) bits GROUP BY w
),
probe_bits AS (
  SELECT probe_set, k, CAST({word} AS BIGINT) AS w,
         CAST({mask} AS BIGINT) AS mask
  FROM {_bloom_fan(d, probes, "k, probe_set")} f
),
checked AS (
  SELECT p.probe_set, p.k,
    CAST(MIN(CASE WHEN (b.word_val & p.mask) <> 0 THEN 1 ELSE 0 END)
         AS INT) AS hit
  FROM probe_bits p LEFT JOIN bloom b ON p.w = b.w
  GROUP BY p.probe_set, p.k
)
SELECT probe_set, CAST(COUNT(*) AS BIGINT) AS n_probes,
  CAST(SUM(hit) AS BIGINT) AS n_positive
FROM checked GROUP BY probe_set
"""


# --------------------------------------------------------------------------
# Histogram quantiles — the 100 TB percentile path
# --------------------------------------------------------------------------
#
# `percentiles` (plans/queries_ops.py) is exact `percentile()` — per-key it
# materializes and sorts the full value set, which at 100 TB is the one
# aggregate you cannot afford.  The production pattern is a two-pass
# fixed-bin histogram: pass 1 aggregates per-key (min, max, count); pass 2
# buckets every value into HQ_BINS equal-width bins and reads the quantile
# off the cumulative histogram (deterministic mid-bin rule, error bounded by
# half a bin width: (max-min)/(2*HQ_BINS)).  State per key is <= HQ_BINS
# longs — mergeable, bounded, shuffle keys = (key, bin), no sort anywhere.
#
# Everything is plain IEEE double arithmetic with identical expression trees
# on both engines (floor/ceil/LEAST/GREATEST and a partitioned window over
# <= HQ_BINS rows), so unlike engine-native approx_percentile (different
# sketches, unmatchable results) this estimator is value-oracle-able: the
# DuckDB twin runs the same text and hashes green.

HQ_BINS = 4096
HQ_QS = (("p50", "0.5E0"), ("p90", "0.9E0"), ("p99", "0.99E0"))



def hq_finite(val: str) -> str:
    """Portable finiteness predicate (both engines): excludes NULL, NaN and
    +-inf in one expression — abs(NaN) < inf and abs(+-inf) < inf are both
    false.  Non-finite values carry no orderable position, so the estimator
    EXCLUDES them (documented contract; also avoids the ANSI
    CAST(floor(NaN/inf)) error and Spark-vs-DuckDB NaN MAX divergence)."""
    return (
        f"{val} IS NOT NULL AND "
        f"ABS(CAST({val} AS DOUBLE)) < CAST('Infinity' AS DOUBLE)"
    )


def hq_bin_ix(val: str, mn: str = "s.mn", mx: str = "s.mx") -> str:
    """Bin index fragment — the ONE definition both the SQL oracle text and
    the DataFrame engine plan compile (degenerate single-value key -> bin
    0).  The clamp happens on the DOUBLE ratio BEFORE floor/cast (same
    discipline as psi_bin_expr): with finite values near +-1.7e308 the
    span mx-mn overflows to +inf, the ratio goes NaN, and DuckDB would
    error on CAST(NaN AS INT) while Spark yields 0 — clamping first lands
    both engines on bin HQ_BINS-1 (NaN sorts above everything in both, so
    GREATEST keeps it and LEAST replaces it with the top-bin literal)."""
    width = f"(({mx} - {mn}) / {HQ_BINS}.0E0)"
    ratio = f"(({val} - {mn}) / {width})"
    clamped = f"LEAST({HQ_BINS - 1}.0E0, GREATEST(0.0E0, {ratio}))"
    return (
        f"(CASE WHEN {mx} = {mn} THEN 0 ELSE "
        f"CAST(floor({clamped}) AS INT) END)"
    )


def hq_sel_fragment(name: str, q: str, n: str = "n") -> str:
    """Bare quantile-rank selection expression (no alias — callers attach
    their own, so the DataFrame side never has to parse the string back
    apart).  ``n`` defaults to the in-scope count column; callers without
    it in scope (the tercile composition) pass a scalar-subquery
    expression — same parameterization as hq_out_fragment."""
    return f"MIN(CASE WHEN cum >= ceil({q} * {n}) THEN b END)"


def hq_out_fragment(name: str, mn: str = "mn", mx: str = "mx") -> str:
    """Mid-bin value read-off.  ``mn``/``mx`` default to the in-scope
    column names; callers without them in scope (the tercile composition)
    pass scalar-subquery expressions — the rule itself stays THE one
    definition."""
    return (
        f"CASE WHEN {mx} = {mn} THEN {mn} ELSE "
        f"{mn} + (CAST(b_{name} AS DOUBLE) + 0.5E0) * (({mx} - {mn}) / {HQ_BINS}.0E0) "
        f"END"
    )


def histogram_quantiles_sql(
    d: str,
    table: str = "events",
    key: str = "event_type",
    val: str = "value",
    stats_src: str | None = None,
) -> str:
    """One SQL text both engines run.  ``stats_src`` lets the Spark side
    substitute a STAGED pass-1 aggregate (Spark inlines multiply-referenced
    CTEs — the stats subquery is referenced by both pass 2 and the final
    select, which would re-scan the corpus); DuckDB materializes the CTE and
    keeps the plain form."""
    stats = stats_src or (
        f"(SELECT {key} AS k, MIN({val}) AS mn, MAX({val}) AS mx, "
        f"COUNT(*) AS n FROM {table} "
        f"WHERE {hq_finite(val)} "
        f"GROUP BY 1)"
    )
    bin_ix = hq_bin_ix(f"e.{val}")
    sels = ", ".join(
        f"{hq_sel_fragment(name, q)} AS b_{name}" for name, q in HQ_QS
    )
    outs = ", ".join(f"{hq_out_fragment(name)} AS {name}" for name, _ in HQ_QS)
    return f"""
WITH hist AS (
  SELECT s.k, {bin_ix} AS b, COUNT(*) AS c
  FROM {table} e JOIN {stats} s ON e.{key} = s.k
  WHERE {hq_finite(f"e.{val}")}
  GROUP BY 1, 2
),
cum AS (
  SELECT k, b, SUM(c) OVER (
    PARTITION BY k ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
sel AS (
  SELECT c.k, s.mn, s.mx, s.n, {sels}
  FROM cum c JOIN {stats} s ON c.k = s.k
  GROUP BY c.k, s.mn, s.mx, s.n
)
SELECT k AS {key}, CAST(n AS BIGINT) AS n, {outs}
FROM sel
"""


def fixed_domain_hist(
    df, key: str, val: str, lo: float, hi: float
):
    """Per-key fixed-domain histogram (k, b, c) — the MERGEABLE form: with
    the domain fixed up front (no data-dependent min/max pass), per-batch
    histograms merge by plain addition, so a stream can land one histogram
    per micro-batch and a reader can SUM them into the exact global
    histogram (streaming/jobs.run_quantile_stream).  Out-of-domain FINITE
    values clamp into the edge bins; non-finite values (NULL/NaN/+-inf) are
    excluded, same contract as the data-dependent estimator
    (:func:`hq_finite`)."""
    from pyspark.sql import functions as F

    w = (hi - lo) / float(HQ_BINS)
    # Clamp in LONG space BEFORE the int cast: a far-out-of-domain value
    # (or +inf) yields a floor() beyond int32 — casting first would wrap
    # (or throw under ANSI) and land the value in the BOTTOM bin instead of
    # the promised edge bin.  floor() of a double column is LONG already.
    b = (
        F.least(
            F.lit(HQ_BINS - 1).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor((F.col(val) - F.lit(lo)) / F.lit(w)),
            ),
        )
    ).cast("int")
    return (
        df.filter(F.expr(hq_finite(val)))
        .select(F.col(key).alias("k"), b.alias("b"))
        .groupBy("k", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def quantiles_from_hist(hist, lo: float, hi: float):
    """Read p50/p90/p99 off a (k, b, c) histogram (merged or single-pass)
    with the same mid-bin rank rule as histogram_quantiles_sql."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (hi - lo) / float(HQ_BINS)
    cum = hist.groupBy("k", "b").agg(F.sum("c").alias("c")).withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("k").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    totals = cum.groupBy("k").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(totals), "k")
    aggs = [F.max("n").cast("long").alias("n")]
    for name, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        sel = F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("b"))
        )
        aggs.append(
            (F.lit(lo) + (sel.cast("double") + F.lit(0.5)) * F.lit(w)).alias(name)
        )
    return j.groupBy("k").agg(*aggs)


def robust_outlier_bounds_sql(
    d: str,
    table: str = "events",
    key: str = "event_type",
    val: str = "value",
    med_src: str | None = None,
    dev_src: str | None = None,
) -> str:
    """Robust per-key outlier bounds — the data-cleaning pass run before
    corpus statistics: center = histogram median, spread = histogram p90 of
    absolute deviations (the quantile analogue of MAD — mean/stddev would
    let the outliers define their own trim threshold).  Emits per key the
    bounds [med - 3*spread, med + 3*spread] and kept/trimmed counts.

    Everything rides histogram_quantiles_sql, so the whole thing is
    sort-free, bounded-state, and deterministic IEEE on both engines
    (value-oracled).  ``med_src``/``dev_src`` let the Spark side substitute
    STAGED intermediates (each is referenced more than once — Spark's CTE
    inlining would re-run the upstream histogram per reference)."""
    med = med_src or f"(SELECT {key} AS mk, p50 AS med FROM ({histogram_quantiles_sql(d, table, key, val)}) mq)"
    devs = (
        f"(SELECT e.{key}, ABS(e.{val} - m.med) AS {val} "
        f"FROM {table} e JOIN {med} m ON e.{key} = m.mk "
        f"WHERE {hq_finite(f'e.{val}')})"
    )
    dev = dev_src or (
        f"(SELECT {key} AS dk, p90 AS spread "
        f"FROM ({histogram_quantiles_sql(d, devs, key, val)}) dq)"
    )
    kf = "3.0E0"  # a DOUBLE literal on both engines
    return f"""
SELECT e.{key},
  m.med - {kf} * s.spread AS lo_bound,
  m.med + {kf} * s.spread AS hi_bound,
  CAST(SUM(CASE WHEN e.{val} >= m.med - {kf} * s.spread
                 AND e.{val} <= m.med + {kf} * s.spread
            THEN 1 ELSE 0 END) AS BIGINT) AS kept,
  CAST(SUM(CASE WHEN e.{val} < m.med - {kf} * s.spread
                 OR e.{val} > m.med + {kf} * s.spread
            THEN 1 ELSE 0 END) AS BIGINT) AS trimmed
FROM {table} e
JOIN {med} m ON e.{key} = m.mk
JOIN {dev} s ON e.{key} = s.dk
WHERE {hq_finite(f"e.{val}")}
GROUP BY 1, 2, 3
"""


def histogram_quantiles_df(df, key: str = "event_type", val: str = "value"):
    """DataFrame form of :func:`histogram_quantiles_sql` — bit-identical
    expression trees (the SQL fragments below are the oracle text minus the
    table qualifiers), but composed as a plan so the registered query's
    physical plan stays inspectable (a terminal localCheckpoint would
    collapse it to Scan ExistingRDD and make every plan guard vacuous).
    Only the bounded pass-1 stats aggregate (<= #keys rows) is checkpointed
    — it feeds both pass 2 and the final select, and Spark would otherwise
    re-run pass 1 per reference."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    fin = hq_finite(val)
    stats = (
        df.filter(fin)
        .groupBy(F.col(key).alias("k"))
        .agg(
            F.min(val).alias("mn"),
            F.max(val).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint()
    )
    bin_ix = hq_bin_ix(val, mn="mn", mx="mx")
    hist = (
        df.filter(fin)
        .join(F.broadcast(stats), F.col(key) == F.col("k"))
        .select("k", F.expr(bin_ix).alias("b"))
        .groupBy("k", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("k").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sels = [
        F.expr(hq_sel_fragment(name, q)).alias(f"b_{name}") for name, q in HQ_QS
    ]
    sel = cum.join(F.broadcast(stats), "k").groupBy("k", "mn", "mx", "n").agg(*sels)
    outs = [F.expr(hq_out_fragment(name)).alias(name) for name, _ in HQ_QS]
    return sel.select(
        F.col("k").alias(key), F.col("n").cast("long").alias("n"), *outs
    )


PSI_BINS = 64  # coarse on purpose: Laplace +1 smoothing stays mild
PSI_LO, PSI_HI = 0.0, 1000.0  # the fixed [lo, hi) PSI value domain


def _dlit(v: float) -> str:
    """Double literal that parses as DOUBLE on both engines: plain decimal
    reprs need an E0 suffix (Spark parses bare decimals as DECIMAL), but
    reprs already in scientific notation must NOT get a second exponent."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else r + "E0"


def psi_bin_expr(val: str, lo: float = 0.0, hi: float = 1000.0) -> str:
    """Fixed-domain PSI bin index (shared by the SQL text and the staged
    Spark hist builder).  The clamp happens on the DOUBLE ratio BEFORE
    floor/cast: a finite far-out-of-domain value (|v| ~ 1e10+) would
    otherwise overflow the INT32 cast on both engines — the drift monitor
    must clamp drifted data into the edge bins, not die on it."""
    w = (hi - lo) / float(PSI_BINS)
    ratio = f"(({val} - {_dlit(lo)}) / {_dlit(w)})"
    clamped = f"LEAST({_dlit(PSI_BINS - 1)}, GREATEST(0.0E0, {ratio}))"
    return f"CAST(floor({clamped}) AS INT)"


def psi_term_sql() -> str:
    """One smoothed PSI term in exact nano-units over (ca, cb, na, nb)
    columns — the single definition the SQL oracle text and the DataFrame
    engine plan both compile."""
    from .selection import qln_micro

    lnp = f"({qln_micro('ca + 1')} - {qln_micro(f'na + {PSI_BINS}')})"
    lnq = f"({qln_micro('cb + 1')} - {qln_micro(f'nb + {PSI_BINS}')})"
    p = f"(CAST(ca + 1 AS DOUBLE) / CAST(na + {PSI_BINS} AS DOUBLE))"
    q = f"(CAST(cb + 1 AS DOUBLE) / CAST(nb + {PSI_BINS} AS DOUBLE))"
    return (
        f"CAST(floor(({p} - {q}) * (CAST({lnp} - {lnq} AS DOUBLE) / 1.0E6) "
        f"* 1.0E9 + 0.5) AS BIGINT)"
    )


def psi_drift_df(
    df,
    key: str = "event_type",
    val: str = "value",
    cohort: str = "user_id % 2",
):
    """DataFrame twin of :func:`psi_drift_sql` for the Spark engine side:
    the bounded histogram (<= keys x 2 x PSI_BINS rows) is checkpointed
    (it feeds three consumers and CTE inlining would re-scan the corpus),
    the read-off stays a visible plan (no terminal checkpoint; the spine is
    a generator explode, not a cross join, so no BNLJ appears)."""
    from pyspark.sql import functions as F

    hist = (
        df.filter(F.expr(hq_finite(val)))
        .select(
            F.col(key).alias("k"),
            F.expr(f"CAST({cohort} AS INT)").alias("cohort"),
            F.expr(psi_bin_expr(val, PSI_LO, PSI_HI)).alias("b"),
        )
        .groupBy("k", "cohort", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    spine = (
        hist.select("k")
        .distinct()
        .select("k", F.expr(f"explode(sequence(0, {PSI_BINS - 1}))").alias("b"))
        .select("k", F.col("b").cast("int").alias("b"))
    )
    joined = (
        spine.join(hist, ["k", "b"], "left")
        .groupBy("k", "b")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("cohort") == 0, F.col("c"))), F.lit(0)
            ).alias("ca"),
            F.coalesce(
                F.max(F.when(F.col("cohort") == 1, F.col("c"))), F.lit(0)
            ).alias("cb"),
        )
    )
    tot = hist.groupBy("k").agg(
        F.expr("CAST(SUM(CASE WHEN cohort = 0 THEN c ELSE 0 END) AS BIGINT)").alias("na"),
        F.expr("CAST(SUM(CASE WHEN cohort = 1 THEN c ELSE 0 END) AS BIGINT)").alias("nb"),
    )
    return (
        joined.join(F.broadcast(tot), "k")
        .groupBy(F.col("k").alias(key), "na", "nb")
        .agg(F.expr(f"CAST(SUM({psi_term_sql()}) AS BIGINT)").alias("psi_nano"))
        .select(key, F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "psi_nano")
    )


def psi_drift_sql(
    d: str,
    table: str = "events",
    key: str = "event_type",
    val: str = "value",
    cohort: str = "user_id % 2",
    hist_src: str | None = None,
) -> str:
    """Population Stability Index between two cohorts per key — the
    distribution-drift monitor the mergeable histograms exist to feed
    (monitor a stream by landing per-batch histograms and comparing windows
    of them; here the cohorts are two deterministic populations of the same
    table so the whole computation is value-oracled).

    PSI = sum_bins (p_i - q_i) * (ln p_i - ln q_i), with +1 Laplace
    smoothing on every bin count (PSI is undefined on empty bins) over a
    FIXED [PSI_LO, PSI_HI) domain.  Cross-engine exactness: ln runs ONLY at integer
    arguments and is quantized to micro-nats (selection.qln_micro absorbs
    the engines' 1-ulp ln drift), and ln p_i - ln q_i decomposes to
    (qln(c_p) - qln(n_p)) - (qln(c_q) - qln(n_q)); the remaining arithmetic
    is identical-tree IEEE doubles.  Rule of thumb: PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 drifted."""
    from .selection import qln_micro

    bin_ix = psi_bin_expr(f"e.{val}", PSI_LO, PSI_HI)
    # smoothed counts per (key, cohort, bin); the bins spine guarantees all
    # PSI_BINS rows per key/cohort so the +1 smoothing covers empty bins
    qsum_term = psi_term_sql()
    # hist is referenced 3x below (keys, tot, joined): the Spark engine
    # side therefore runs psi_drift_df (hist checkpointed, read-off composed
    # as a plan); DuckDB materializes the CTE and keeps this plain text.
    hist = hist_src or f"""(
  SELECT k, cohort, b, COUNT(*) AS c FROM (
    SELECT e.{key} AS k, CAST({cohort} AS INT) AS cohort, {bin_ix} AS b
    FROM {table} e
    WHERE {hq_finite(f"e.{val}")}
  ) f GROUP BY 1, 2, 3
)"""
    return f"""
WITH hist AS (SELECT * FROM {hist}),
keys AS (SELECT DISTINCT k FROM hist),
spine AS (
  SELECT k, s.b FROM keys
  CROSS JOIN (SELECT CAST(i AS INT) AS b FROM {("(SELECT unnest(range(" + str(PSI_BINS) + ")) AS i)") if d == "duck" else ("(SELECT explode(sequence(0, " + str(PSI_BINS - 1) + ")) AS i)")} z) s
),
tot AS (
  SELECT k,
    CAST(SUM(CASE WHEN cohort = 0 THEN c ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN cohort = 1 THEN c ELSE 0 END) AS BIGINT) AS nb
  FROM hist GROUP BY k
),
joined AS (
  SELECT sp.k, sp.b,
    COALESCE(MAX(CASE WHEN h.cohort = 0 THEN h.c END), 0) AS ca,
    COALESCE(MAX(CASE WHEN h.cohort = 1 THEN h.c END), 0) AS cb
  FROM spine sp LEFT JOIN hist h ON h.k = sp.k AND h.b = sp.b
  GROUP BY sp.k, sp.b
)
SELECT j.k AS {key}, t.na AS n_a, t.nb AS n_b,
  CAST(SUM({qsum_term}) AS BIGINT) AS psi_nano
FROM joined j JOIN tot t ON j.k = t.k
GROUP BY j.k, t.na, t.nb
"""
