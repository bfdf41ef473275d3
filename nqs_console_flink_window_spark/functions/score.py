"""Perceived-quality score compiler (SURVEY §2.8, operators Q1-Q4).

The reference computes a weighted 0-100 quality score per record with a
reflection-driven, per-record Java loop (util/ScoreHelper.java:29-95,
score/PQMath.java).  Here the same semantics are *compiled once* into a SQL
expression — Catalyst constant-folds the band constants and the whole thing
runs inside whole-stage codegen; no UDF, no Python on the hot path.

The compiler emits ANSI SQL text (CASE/comparisons/arithmetic only), which

1. Spark executes via ``F.expr`` — the idiomatic "client-side codegen" path,
2. DuckDB executes verbatim as the correctness oracle,

so engine and oracle share one source of truth and agree bit-for-bit in
double precision.

Semantics reproduced from the reference (file:line cited inline):

- SPEED records hard-score 0 (ScoreHelper.java:30-33).
- Unknown protocol -> 0 (criteria==null leaves sum 0, ScoreHelper.java:37,56).
- Any metric matching its ``outlier`` spec zeroes the whole record
  (PQMath.eqOutlier, ScoreHelper.java:49-52).
- Band selection is first-match in config order; a value outside every band
  takes the *last* band's ``lower`` un-interpolated (ScoreHelper.java:78-89).
- In-band interpolation (ScoreHelper.java:90-94, PQMath.java:96-112):
    direction 'up'   (lower is better):  lo + (hi-lo)*(bmax-x)/(bmax-bmin)
    direction 'down' (higher is better): lo + (hi-lo)*(x-bmin)/(bmax-bmin)
  with unbounded band edges substituted by Float.MIN_VALUE /
  Float.MAX_VALUE/100 (score/Score.java:getMinVal/getMaxVal) — kept verbatim,
  quirks included.
- Final: clamp to [0,100] then round half-up to 2 decimals
  (ScoreHelper.java:54-60).

Deliberate delta: the reference computes in Java ``float`` and would NPE on a
missing metric field; this engine computes in double (documented tolerance,
SURVEY §7.4) and treats a NULL metric as contributing 0.
"""

from __future__ import annotations

from .pq_criteria import CRITERIA, Band, Metric


def _lit(v: float) -> str:
    """Render a double literal that Spark SQL and DuckDB parse identically.

    Plain decimal literals (``85.41``) parse as DECIMAL on Spark but DOUBLE on
    DuckDB; exponent-form literals parse as DOUBLE on both.  ``repr`` already
    emits an exponent for very small/large magnitudes — append ``E0`` only to
    the plain forms.
    """
    r = repr(float(v))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "E0"


def _band_cond(x: str, b: Band) -> str:
    conds = []
    if b.lo is not None:
        conds.append(f"{x} {'>=' if b.lo_incl else '>'} {_lit(b.lo)}")
    if b.hi is not None:
        conds.append(f"{x} {'<=' if b.hi_incl else '<'} {_lit(b.hi)}")
    return " AND ".join(conds) if conds else "TRUE"


def _band_value(x: str, m: Metric, b: Band) -> str:
    """Interpolated, weight-multiplied score for value `x` inside band `b`."""
    bmin, bmax = b.interp_lo, b.interp_hi
    rng = bmax - bmin
    if m.direction == "down":
        frac = f"(({x}) - {_lit(bmin)})"
    else:
        frac = f"({_lit(bmax)} - ({x}))"
    return f"({_lit(b.lower)} + {_lit(b.upper - b.lower)} * {frac} / {_lit(rng)}) * {_lit(m.weight)}"


def outlier_cond_sql(x: str, outlier: str) -> str:
    """PQMath.eqOutlier (score/PQMath.java:53-84) as a boolean SQL expr."""
    if not outlier:
        return "FALSE"
    parts = []
    for clause in outlier.split(","):
        op, val = clause.split(":")
        op = op.strip()
        if op not in (">", "<", ">=", "<="):
            op = "="  # default branch: equality
        parts.append(f"{x} {op} {_lit(float(val))}")
    return "(" + " OR ".join(parts) + ")"


def metric_term_sql(m: Metric, x: str) -> str:
    """Weighted score contribution of one metric (NULL value -> 0)."""
    whens = [f"WHEN ({x}) IS NULL THEN 0.0"]
    for b in m.bands:
        whens.append(f"WHEN {_band_cond(f'({x})', b)} THEN {_band_value(x, m, b)}")
    worst = m.bands[-1]
    # Out-of-every-band: last band's lower * weight, no interpolation
    # (ScoreHelper.java:84-89).
    fallback = worst.lower * m.weight
    return "(CASE " + " ".join(whens) + f" ELSE {_lit(fallback)} END)"


def record_score_sql(protocol: str, colmap: dict[str, str] | None = None) -> str:
    """Full record score expression for one protocol.

    ``colmap`` maps metric name -> SQL expression supplying that metric's
    value (defaults to the metric name itself as a column reference).
    """
    if protocol == "SPEED":  # ScoreHelper.java:30-33
        return "0.0"
    crit = CRITERIA.get(protocol)
    if crit is None:  # unknown protocol -> 0 (ScoreHelper.java:37,56-60)
        return "0.0"
    colmap = colmap or {}
    xs = {m.name: colmap.get(m.name, m.name) for m in crit.metrics}
    outliers = [
        f"(({xs[m.name]}) IS NOT NULL AND {outlier_cond_sql(f'({xs[m.name]})', m.outlier)})"
        for m in crit.metrics
        if m.outlier
    ]
    any_outlier = " OR ".join(outliers) if outliers else "FALSE"
    total = " + ".join(metric_term_sql(m, xs[m.name]) for m in crit.metrics)
    from .dialect import fround

    clamped = f"LEAST(GREATEST({total}, 0.0), 100.0)"
    return f"(CASE WHEN {any_outlier} THEN 0.0 ELSE {fround(clamped, 2)} END)"


def dispatch_score_sql(
    protocol_expr: str,
    colmaps: dict[str, dict[str, str]],
) -> str:
    """Protocol-dispatched score: one CASE over ``protocol_expr`` covering the
    given ``{protocol: colmap}`` set.  Mirrors the reference's per-record
    ``criteriaMap.get(taskTypeName)`` dispatch (ScoreHelper.java:34-37)."""
    whens = [
        f"WHEN {protocol_expr} = '{p}' THEN {record_score_sql(p, cm)}"
        for p, cm in colmaps.items()
    ]
    return "(CASE " + " ".join(whens) + " ELSE 0.0 END)"


# --------------------------------------------------------------------------
# Rank form: sorted-edge rank + O(1) literal-array gather (fully codegen-able)
# --------------------------------------------------------------------------
#
# The CASE-chain compiler above unrolls every band of every metric of every
# protocol into generated Java — the 13-protocol dispatch emits a ~34 KB SQL
# expression whose single whole-stage-codegen method blows janino's 64 KB
# hard cap: Spark logs an InternalCompilerException stack, abandons WSCG for
# the stage, and re-generates the projection non-fused (where expressions CAN
# split into per-branch methods that the 8 KB JIT limit accepts).  That
# fallback is fast (~60 ns/row/core measured) but the failed-compile stack is
# noise and the fused plan is lost.  The rank form keeps the identical
# arithmetic with ~3x less generated code, so the whole dispatch compiles
# fused (one WholeStageCodegen subtree, measured, no janino stack):
#
#     idx  = SUM_i CAST(x {>|>=} upper_edge_i AS INT)     -- <= 5 comparisons
#     term = COALESCE(get(array(val_0(x), .., val_{n-1}(x)), idx), fallback)
#
# valid because the shipped criteria's bands form one contiguous chain
# (validated at compile time per metric; a non-contiguous metric would fall
# back to the CASE chain).  Each val_j is 5 flops of straight-line double
# arithmetic; `get` evaluates idx exactly once (a CASE over idx would re-emit
# the rank sum per branch — codegen does not CSE across branches); every
# expression involved (comparison, cast, CreateArray, GetArrayItem-via-get)
# has proper doGenCode, so nothing evicts the Project from codegen the way a
# higher-order `filter`/`transform` (CodegenFallback) would.
#
# Equivalence to first-match CASE (proof sketch): with a contiguous ascending
# chain, x lies in band j iff exactly j upper edges are "passed", where a
# shared edge value belongs to whichever adjacent band matches first in
# DECLARED order (encoded per edge as > vs >=), so idx == j; below-range and
# NaN land on idx 0 whose value is membership-guarded, above-range lands on
# idx == n where `get` yields NULL -> COALESCE to the out-of-band fallback
# (last declared band's lower, un-interpolated, ScoreHelper.java:84-89).
# Bit-identity vs the CASE form is asserted across every band edge +-1 ulp
# plus NaN/+-inf by tests/test_score.py::test_rank_form_bit_identical.


def _asc(bands: tuple) -> list:
    return sorted(bands, key=lambda b: (b.interp_lo, b.interp_hi))


def _rank_ok(bands: tuple) -> bool:
    """True if the bands form one contiguous ascending chain (in either
    declared order): each band's upper edge equals the next band's lower edge
    with at least one of the two sides inclusive (so no value falls *between*
    bands), at most the chain-first band unbounded below and the chain-last
    unbounded above.  Under this shape the edge-rank uniquely identifies the
    matching band for every in-range value; only below-range / above-range /
    NaN need the fallback."""
    asc = _asc(bands)
    for prev, cur in zip(asc, asc[1:]):
        if prev.hi is None or cur.lo is None:
            return False
        if prev.hi != cur.lo or not (prev.hi_incl or cur.lo_incl):
            return False
    return True


def _band_contains(b: Band, e: float) -> bool:
    lo_ok = b.lo is None or e > b.lo or (b.lo_incl and e == b.lo)
    hi_ok = b.hi is None or e < b.hi or (b.hi_incl and e == b.hi)
    return lo_ok and hi_ok


def metric_term_rank_sql(m: Metric, x: str) -> str:
    """Rank-form twin of :func:`metric_term_sql`; falls back to the CASE
    chain when the metric's bands are not contiguous."""
    if not _rank_ok(m.bands):
        return metric_term_sql(m, x)
    bands = _asc(m.bands)
    # idx = number of upper edges passed.  A shared edge value belongs to
    # whichever adjacent band matches FIRST in declared order (both-inclusive
    # edges exist in the shipped criteria, e.g. HTTP avg_speed 768): if the
    # lower band owns the edge the comparison is strict, else at-or-above.
    casts = []
    for i, b in enumerate(bands):
        if b.hi is None:
            continue
        e = b.hi
        owner = next((bb for bb in m.bands if _band_contains(bb, e)), None)
        if owner is None:
            # both-exclusive shared edge: the edge VALUE belongs to no band
            # (a gap point) — the rank form cannot encode that; CASE chain
            return metric_term_sql(m, x)
        op = ">" if owner is b else ">="
        casts.append(f"CAST(({x}) {op} {_lit(e)} AS INT)")
    idx = "(" + " + ".join(casts) + ")" if casts else "0"
    worst = m.bands[-1]
    fallback = _lit(worst.lower * m.weight)  # ScoreHelper.java:84-89

    def val(b: Band) -> str:
        fo = b.interp_lo if m.direction == "down" else b.interp_hi
        rng = b.interp_hi - b.interp_lo
        du = b.upper - b.lower
        frac = f"(({x}) - {_lit(fo)})" if m.direction == "down" else f"({_lit(fo)} - ({x}))"
        return f"({_lit(b.lower)} + {_lit(du)} * {frac} / {_lit(rng)}) * {_lit(m.weight)}"

    # Branchless gather: compute every band's interpolated value (straight-line
    # arithmetic, ~5 flops each) and pick by rank in O(1).  `get` yields NULL
    # above-range (idx == n) -> COALESCE to the out-of-band fallback.  A CASE
    # chain here would re-emit the idx expression per branch (no cross-branch
    # CSE in codegen); the gather evaluates idx exactly once.
    # Contiguity guarantees membership for idx >= 1; idx == 0 must re-check
    # the lower bound (x below band 0, or NaN -> every cast yields 0).
    b0 = bands[0]
    if b0.lo is None:
        # Unbounded below: idx==0 already encodes x <= hi0 for every real x;
        # only NaN (all casts 0, yet in no band) must be routed to fallback.
        cond0 = f"NOT isnan(CAST(({x}) AS DOUBLE))"
    else:
        cond0 = f"(({x}) {'>=' if b0.lo_incl else '>'} {_lit(b0.lo)})"
    elems = [f"(CASE WHEN {cond0} THEN {val(b0)} ELSE {fallback} END)"]
    elems += [val(b) for b in bands[1:]]
    gather = f"COALESCE(get(array({', '.join(elems)}), {idx}), {fallback})"
    # NULL guard lives HERE (exactly like metric_term_sql's first WHEN), so
    # the rank form is a drop-in twin: without it, NULL x would rank to a
    # NULL idx and COALESCE to the out-of-band fallback instead of 0.0.
    return f"(CASE WHEN ({x}) IS NULL THEN 0.0 ELSE {gather} END)"


def record_score_rank_sql(protocol: str, colmap: dict[str, str] | None = None) -> str:
    """Rank-form twin of :func:`record_score_sql` (Spark-only SQL)."""
    if protocol == "SPEED" or CRITERIA.get(protocol) is None:
        return "0.0"
    crit = CRITERIA[protocol]
    colmap = colmap or {}
    xs = {m.name: colmap.get(m.name, m.name) for m in crit.metrics}
    outliers = [
        f"(({xs[m.name]}) IS NOT NULL AND {outlier_cond_sql(f'({xs[m.name]})', m.outlier)})"
        for m in crit.metrics
        if m.outlier
    ]
    any_outlier = " OR ".join(outliers) if outliers else "FALSE"
    total = " + ".join(
        metric_term_rank_sql(m, xs[m.name]) for m in crit.metrics
    )
    from .dialect import fround

    clamped = f"LEAST(GREATEST({total}, 0.0), 100.0)"
    return f"(CASE WHEN {any_outlier} THEN 0.0 ELSE {fround(clamped, 2)} END)"


def dispatch_score_rank_sql(
    protocol_expr: str,
    colmaps: dict[str, dict[str, str]],
) -> str:
    """Rank-form twin of :func:`dispatch_score_sql` — the engine hot path."""
    whens = [
        f"WHEN {protocol_expr} = '{p}' THEN {record_score_rank_sql(p, cm)}"
        for p, cm in colmaps.items()
    ]
    return "(CASE " + " ".join(whens) + " ELSE 0.0 END)"


def dispatch_score_rank_staged(
    protocol_expr: str,
    colmaps: dict[str, dict[str, str]],
) -> tuple[dict[str, str], str]:
    """Two-stage form for WIDE dispatches (all 13+ protocols in one pass).

    Even the rank form re-emits each metric-value expression (~"value * 12.0")
    about a dozen times per metric (edge casts, per-band fracs, null/outlier
    guards); across 14 protocols the single generated projection method still
    crosses janino's 64 KB cap.  This variant hoists each DISTINCT metric
    expression into a named column for a first SELECT and rewrites the
    dispatch to reference the plain attributes.  CollapseProject keeps the two
    projections separate (the hoisted exprs are non-cheap and multiply
    referenced), whole-stage codegen gives each operator its own consume
    method (spark.sql.codegen.splitConsumeFuncByOperator), and both methods
    compile — no janino stack, identical values.

    Returns ``(hoisted, dispatch_sql)``: add the ``hoisted`` name->expr
    columns in a first ``select``, then evaluate ``dispatch_sql`` in a second.
    """
    hoist: dict[str, str] = {}

    def col_for(expr: str) -> str:
        if expr not in hoist:
            hoist[expr] = f"_mx{len(hoist)}"
        return hoist[expr]

    new_maps = {
        p: {m: col_for(e) for m, e in cm.items()} for p, cm in colmaps.items()
    }
    sql = dispatch_score_rank_sql(protocol_expr, new_maps)
    return {name: expr for expr, name in hoist.items()}, sql
