"""ClickHouse aggregate-function surface → PySpark aggregates.

Covers the dialect names plus the combinator mechanics the reference's
parser produces at parse time (SURVEY.md §2.5):
- ``agg(DISTINCT x)``   → ``aggDistinct(x)``  (``ExpressionElementParsers.cpp:866-867``)
- ``agg(x) FILTER (WHERE p)`` → ``aggIf(x, p)`` (``:878-892,952-984``)
- parametric aggregates ``quantile(0.9)(x)``  (``:766-876``)

Everything is a JVM-side built-in; the -If combinator is
``agg(when(p, x))`` which Spark evaluates inside the partial aggregate
(map-side combine preserved — crucial at 100 TB).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from functools import partial

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


INT_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "boolean"})


def _untyped(i: int):
    return None


def _typed(fn):
    """Mark a kernel whose result depends on an argument's type: the
    resolver passes it ``arg_type`` (argument index → Spark DataType or
    None)."""
    fn.typed = True
    return fn


def _levels(n_args: int, fn: Callable[..., Column]) -> Callable[..., Column]:
    """quantiles*(l1, …, lk)(args): every leading value is a level, the
    last ``n_args`` values are the arguments."""
    def g(*a):
        levels = a[:-n_args]
        if not levels or any(isinstance(q, Column) for q in levels):
            raise ValueError("quantiles* take constant level parameters "
                             "and then the argument columns")
        return fn(levels, *a[-n_args:])
    return g


def _quantile_exact(x, q) -> Column:
    """quantileExact(level)(x): CH picks the SORTED element at index
    ``level * n`` (0-based, ``n-1`` for level=1) — no interpolation
    (reference semantics: QuantileExact ``get()`` nth_element pick), so
    the result keeps the input type and can differ from percentile-style
    interpolation on even-sized groups (e.g. [10,20,30,40] level 0.5 →
    30, not 25). Buffers the group's values — exact by definition, same
    cost class as CH's own exact quantile."""
    return _exact_pick(F.array_sort(F.collect_list(_c(x))),
                       "quantileExact", q)


def _exact_rank(name: str, q, n: Column) -> Column:
    """The 1-based index among ``n`` sorted values that quantileExact,
    quantileExactLow or quantileExactHigh picks at ``level=q``."""
    q = float(q)
    if name == "quantileExactLow":
        return (F.floor(F.lit(q) * (n - 1)) + 1).cast("int")
    if name == "quantileExactHigh":
        return (F.ceil(F.lit(q) * (n - 1)) + 1).cast("int")
    if q >= 1.0:
        return n
    return F.least(F.floor(F.lit(q) * n).cast("int") + 1, n)


def _exact_pick(sorted_arr: Column, name: str, q) -> Column:
    """The :func:`_exact_rank` element of a sorted NULL-free array, NULL
    when it is empty — the row kernels and their -Array forms share it."""
    idx = _exact_rank(name, q, F.size(sorted_arr))
    return F.try_element_at(sorted_arr, F.greatest(idx, F.lit(1)))


def _quantile_exact_exclusive(x, q) -> Column:
    """quantileExactExclusive(level)(x): Excel PERCENTILE.EXC / R-6 —
    h = level·(n+1), clamp to the extremes outside (1, n), linear
    interpolation between the 1-based h-floor neighbors (CH docs
    quantileexactexclusive; same buffered-group cost class as
    quantileExact)."""
    arr = F.array_sort(F.collect_list(_c(x)))
    n = F.size(arr)
    h = F.lit(float(q)) * (n + 1).cast("double")
    lo = F.greatest(F.least(F.floor(h).cast("int"), n - 1), F.lit(1))
    v_lo = F.element_at(arr, lo).cast("double")
    v_hi = F.element_at(arr, F.least(lo + 1, n)).cast("double")
    return F.when(h <= 1.0, F.element_at(arr, 1).cast("double")) \
            .when(h >= n.cast("double"),
                  F.element_at(arr, n).cast("double")) \
            .otherwise(v_lo + (h - lo.cast("double")) * (v_hi - v_lo))


def _sum_kahan(x) -> Column:
    """Decimal-exact sum with a double fallback for values the
    DECIMAL(38,18) accumulator cannot hold (|x| ≥ 1e18, inf, NaN —
    Spark orders NaN above every double, so the ≥ test catches it
    too). One pass, two partial aggregates, both map-side combinable."""
    xd = x.cast("double")
    in_range = F.abs(xd) < F.lit(1e18)
    any_bad = F.max(F.when(xd.isNotNull() & ~in_range, 1).otherwise(0))
    dec = F.sum(F.when(in_range, xd).cast("decimal(38,18)")) \
           .cast("double")
    return F.when(any_bad == 1, F.sum(xd)).otherwise(dec)


def _histogram_triples(bins, x) -> Column:
    """histogram(N)(x) → adaptive bins as (lower, upper, height)
    Float64 3-tuples — the public CH contract
    (AggregateFunctionHistogram returns Array(Tuple(Float64, Float64,
    Float64))). Spark's histogram_numeric yields (center, count) pairs;
    bin edges are derived as midpoints of adjacent centers, with the
    outermost edges pinned to the edge centers. Exact edge values are
    not oracle-able (CH's come from a streaming merge), but arity,
    types, bin count and sum(height) == count match the contract."""
    h = F.array_sort(F.histogram_numeric(_c(x), F.lit(int(bins))))
    n = F.size(h)
    return F.transform(
        h,
        lambda e, i: F.struct(
            F.when(i == 0, e["x"].cast("double"))
             .otherwise((e["x"].cast("double")
                         + F.get(h, i - 1)["x"].cast("double")) / 2.0)
             .alias("lower"),
            F.when(i == n - 1, e["x"].cast("double"))
             .otherwise((e["x"].cast("double")
                         + F.get(h, i + 1)["x"].cast("double")) / 2.0)
             .alias("upper"),
            e["y"].cast("double").alias("height"),
        ))


def _delta_sum(x) -> Column:
    lst = F.collect_list(x.cast("double"))
    m = F.greatest(F.size(lst) - 1, F.lit(0))
    return F.aggregate(
        F.zip_with(F.slice(lst, 2, m), F.slice(lst, 1, m),
                   lambda b, a: F.greatest(b - a, F.lit(0.0))),
        F.lit(0.0), lambda acc, v: acc + v)


def _approx_distinct(*cs) -> Column:
    """HLL distinct over one column, or over the TUPLE of several (CH
    multi-argument uniq counts distinct argument tuples). rsd 0.01
    approximates CH's uniqCombined precision (K=17, ~0.8% error) —
    notably it is exact at small cardinalities, where CH's linear-
    counting mode is exact too."""
    return F.approx_count_distinct(cs[0] if len(cs) == 1
                                   else F.struct(*cs), rsd=0.01)


def _uniq_null_aware(fn) -> Callable[..., Column]:
    """CH's uniq family counts NULL as a distinct value for Nullable
    arguments (count(DISTINCT x) = uniqExact(x) = 3 over [1,NULL,2]);
    Spark's count_distinct skips NULLs, so add the any-null flag."""
    def g(*cs):
        cols = [_c(c) for c in cs]
        base = fn(*cols)
        if len(cols) == 1:
            flag = F.coalesce(
                F.max(F.when(cols[0].isNull(), 1).otherwise(0)), F.lit(0))
            return (base + flag).cast("long")
        return base
    g._raw = fn      # the -If combinator rebuilds the NULL flag itself
    return g


AGGREGATES: dict[str, Callable[..., Column]] = {
    "count": lambda *a: F.count(_c(a[0])) if a else F.count(F.lit(1)),
    # late-bound F.* lookups (lambda, not the function object): the
    # window path patches the constructors so each aggregate leaf gets
    # .over applied — an import-time capture would bypass it
    "countDistinct": _uniq_null_aware(lambda *c: F.count_distinct(*c)),
    "sum": lambda x: F.sum(_c(x)),
    "sumDistinct": lambda x: F.sum_distinct(_c(x)),
    "avg": lambda x: F.avg(_c(x)),
    "avgDistinct": lambda x: (F.sum_distinct(_c(x)) /
                              F.count_distinct(_c(x))).cast("double"),
    "min": lambda x: F.min(_c(x)),
    "max": lambda x: F.max(_c(x)),
    "any": lambda x: F.first(_c(x), ignorenulls=True),
    "anyLast": lambda x: F.last(_c(x), ignorenulls=True),
    "argMin": lambda arg, val: F.min_by(_c(arg), _c(val)),
    "argMax": lambda arg, val: F.max_by(_c(arg), _c(val)),
    "stddevPop": lambda x: F.stddev_pop(_c(x)),
    "stddevSamp": lambda x: F.stddev_samp(_c(x)),
    "varPop": lambda x: F.var_pop(_c(x)),
    "varSamp": lambda x: F.var_samp(_c(x)),
    "covarPop": lambda a, b: F.covar_pop(_c(a), _c(b)),
    "covarSamp": lambda a, b: F.covar_samp(_c(a), _c(b)),
    "corr": lambda a, b: F.corr(_c(a), _c(b)),
    "skewSamp": lambda x: F.skewness(_c(x)),
    "kurtSamp": lambda x: F.kurtosis(_c(x)),
    # approximate distinct: CH uniq/uniqHLL12/uniqCombined → HLL;
    # multi-argument forms count distinct TUPLES (struct the args)
    "uniq": _uniq_null_aware(_approx_distinct),
    "uniqHLL12": _uniq_null_aware(_approx_distinct),
    "uniqCombined": _uniq_null_aware(_approx_distinct),
    "uniqCombined64": _uniq_null_aware(_approx_distinct),
    "uniqExact": _uniq_null_aware(lambda *c: F.count_distinct(*c)),
    # parametric quantiles: quantile(q)(x) — exact interpolated percentile
    "quantile": lambda q, x=None: F.percentile(_c(x), F.lit(q)) if x is not None else F.median(_c(q)),
    "quantileExact": lambda q, x: _quantile_exact(x, q),
    # CH's TDigest/Timing sketches return Float32 whatever the input
    # type; Spark's percentile_approx returns the input type
    "quantileTDigest": lambda q, x: F.percentile_approx(
        _c(x), F.lit(q)).cast("float"),
    "quantiles": _levels(1, lambda qs, x: F.percentile(
        _c(x), F.array(*[F.lit(q) for q in qs]))),
    "median": lambda x: F.median(_c(x)),
    # parametric max_size form groupArray(N)(x) keeps the first N values
    # (published CH contract; parametric grammar at reference
    # src/Parsers/ExpressionElementParsers.cpp:766-876) — params lead
    "groupArray": lambda *a: (
        F.slice(F.collect_list(_c(a[-1])), 1, int(a[0]))
        if len(a) > 1 else F.collect_list(_c(a[0]))),
    "groupUniqArray": lambda *a: (
        F.slice(F.collect_set(_c(a[-1])), 1, int(a[0]))
        if len(a) > 1 else F.collect_set(_c(a[0]))),
    "groupBitAnd": lambda x: F.bit_and(_c(x)),
    "groupBitOr": lambda x: F.bit_or(_c(x)),
    "groupBitXor": lambda x: F.bit_xor(_c(x)),
    "sumWithOverflow": lambda x: F.sum(_c(x)),
    # k MOST FREQUENT values (not first-k-sorted): weight-1 reuse of the
    # topKWeighted fold; ties break by value for determinism
    "topK": lambda k, x: _top_k_weighted(k, x, F.lit(1.0)),
    "histogram": lambda bins, x: _histogram_triples(bins, x),
    "boundingRatio": lambda x, y: (F.max(_c(y)) - F.min(_c(y))) / (F.max(_c(x)) - F.min(_c(x))),
    # sum of POSITIVE deltas between consecutive values in collection
    # order (CH processes in data order; deterministic only under an
    # outer sort, same caveat as groupArrayMovingSum)
    "deltaSum": lambda x: _delta_sum(_c(x)),
    # CH skewPop/kurtPop are the raw population moments: Spark's
    # skewness is g1 (= CH skewPop); Spark kurtosis is EXCESS kurtosis,
    # CH kurtPop is m4/m2^2, hence the +3
    "skewPop": lambda x: F.skewness(_c(x)),
    "kurtPop": lambda x: F.kurtosis(_c(x)) + F.lit(3.0),
    # pairs with a NULL value contribute neither value nor weight
    "avgWeighted": lambda x, w: (
        F.sum(_c(x) * _c(w))
        / F.sum(F.when(_c(x).isNotNull(), _c(w)))),
    "anyHeavy": lambda x: F.mode(_c(x)),       # most-frequent approximation
    "entropy": lambda x: _entropy(_c(x)),
    # groupConcat[(sep)](x): parametric separator arrives first (the
    # resolver passes params before args); NULLs skipped like CH
    "groupConcat": lambda *a: F.array_join(
        F.collect_list(_c(a[-1]).cast("string")),
        str(a[0]) if len(a) > 1 and not isinstance(a[0], Column) else ""),
    "stochasticLinearRegression": lambda *a: ml_regression(False, *a),
    "stochasticLogisticRegression": lambda *a: ml_regression(True, *a),
}

def ml_regression(logistic: bool, *a) -> Column:
    """``stochasticLinearRegression`` / ``stochasticLogisticRegression``
    (public CH signature ``(learning_rate, l2_reg, batch_size, method)
    (target, p1..pk)``; the reference declares the names in its
    aggregate registry) → ``Array(Float64)`` of ``[w1..wk, bias]``.

    Deterministic batch fit of the same objective instead of CH's
    path-dependent SGD (documented deviation): closed-form ridge normal
    equations for linear, fixed-iteration IRLS for logistic. The l2_reg
    parameter is honored (weights regularized, bias not — CH's gradient
    skips the bias term); learning_rate/batch_size/method are SGD path
    parameters with no batch-fit analogue and are validated then
    ignored.

    Scale shape: the LINEAR path aggregates the (k+1)² moment sums as
    pure-JVM map-side-combined F.sum expressions — no per-group data
    materialization at all — and solves the tiny normal-equations system
    in an Arrow scalar UDF over the single aggregated row. The LOGISTIC
    path needs the raw observations (IRLS is not moment-expressible):
    collect_list per group, so it's bounded by group size like
    groupArray. The optional parameters are the leading plain values,
    the target and feature columns follow."""
    import pandas as pd

    n_params = next((i for i, v in enumerate(a) if isinstance(v, Column)),
                    len(a))
    params, args = a[:n_params], a[n_params:]
    l2 = float(params[1]) if len(params) > 1 else 0.1
    method = str(params[3]).strip("'\"") if len(params) > 3 else "SGD"
    if method not in ("SGD", "Momentum", "Nesterov", "Adam"):
        raise ValueError(
            f"invalid method {method!r} for stochastic regression "
            f"(SGD/Momentum/Nesterov/Adam)")
    if len(args) < 2:
        raise ValueError(
            "stochastic regression needs a target and at least one "
            "parameter column")
    cols = [_c(a).cast("double") for a in args]
    y, xs = cols[0], cols[1:]
    n = len(xs) + 1                      # features + bias

    if not logistic:
        feats = xs + [F.lit(1.0)]
        moments = [F.sum(feats[i] * feats[j])
                   for i in range(n) for j in range(i, n)]
        moments += [F.sum(feats[i] * y) for i in range(n)]

        def _solve(m):
            import numpy as np
            out = []
            for arr in m:
                vals = np.asarray(arr, dtype=float)
                a = np.zeros((n, n))
                idx = 0
                for i in range(n):
                    for j in range(i, n):
                        a[i, j] = a[j, i] = vals[idx]
                        idx += 1
                b = vals[idx:idx + n]
                reg = np.eye(n) * l2
                reg[-1, -1] = 0.0        # bias is not regularized
                out.append([float(v)
                            for v in np.linalg.solve(a + reg, b)])
            return pd.Series(out)

        _solve.__annotations__ = {"m": pd.Series, "return": pd.Series}
        return F.pandas_udf(_solve, "array<double>")(F.array(*moments))

    rows = F.collect_list(F.array(y, *xs))

    def _irls(m):
        import numpy as np
        out = []
        for grp in m:
            mat = np.asarray([np.asarray(r, dtype=float) for r in grp])
            yy = mat[:, 0]
            x = np.column_stack([mat[:, 1:], np.ones(len(yy))])
            reg = np.eye(n) * l2
            reg[-1, -1] = 0.0
            w = np.zeros(n)
            for _ in range(25):          # fixed-count IRLS — deterministic
                p = 1.0 / (1.0 + np.exp(-np.clip(x @ w, -35, 35)))
                wd = p * (1.0 - p) + 1e-9
                a = (x * wd[:, None]).T @ x + reg
                g = x.T @ (yy - p) - np.concatenate([w[:-1] * l2, [0.0]])
                try:
                    step = np.linalg.solve(a, g)
                except np.linalg.LinAlgError:
                    break
                w = w + step
                if float(np.abs(step).max()) < 1e-12:
                    break
            out.append([float(v) for v in w])
        return pd.Series(out)

    _irls.__annotations__ = {"m": pd.Series, "return": pd.Series}
    return F.pandas_udf(_irls, "array<double>")(rows)


def _nan_degenerate(f, two_arg: bool = False):
    """CH evaluates the moment formulas in Float64: a degenerate
    denominator (n=1 for the -Samp family, zero variance for
    corr/skew/kurt) is IEEE 0/0 = nan, never NULL. Spark returns NULL
    there, so coalesce to nan whenever at least one (pair-)value
    contributed — NULL is kept only for the all-NULL Nullable input
    (AggregateFunctionNull contract, same as Spark)."""
    if two_arg:
        def g(a, b):
            x, y = _c(a), _c(b)
            cnt = F.count(F.when(x.isNotNull() & y.isNotNull(), 1))
            return F.when(cnt > 0,
                          F.coalesce(f(x, y), F.lit(float("nan"))))
        return g

    def g(x):
        v = _c(x)
        return F.when(F.count(v) > 0,
                      F.coalesce(f(v), F.lit(float("nan"))))
    return g


for _nm in ("stddevSamp", "varSamp", "skewSamp", "kurtSamp",
            "skewPop", "kurtPop"):
    AGGREGATES[_nm] = _nan_degenerate(AGGREGATES[_nm])
for _nm in ("covarSamp", "corr"):
    AGGREGATES[_nm] = _nan_degenerate(AGGREGATES[_nm], two_arg=True)

# -Stable variants are the numerically-stable spellings of the moments —
# Spark's implementations already use stable accumulation
for _st in ("varPop", "varSamp", "stddevPop", "stddevSamp",
            "covarPop", "covarSamp", "corr", "skewPop", "kurtPop"):
    AGGREGATES[_st + "Stable"] = AGGREGATES[_st]


def _moving_fold(x, avg: bool = False, window: int | None = None) -> Column:
    """groupArrayMovingSum/Avg([window])(x): running sums over the
    collected values, optionally over the trailing ``window`` elements
    only (the parametric form). Collection order is Spark's task order
    (CH uses insertion order — both are deterministic only under an
    outer ORDER BY)."""
    lst = F.collect_list(_c(x).cast("double"))
    sums = F.aggregate(
        lst, F.struct(F.slice(lst, 1, 0).alias("arr"),
                      F.lit(0.0).alias("tot")),
        lambda st, v: F.struct(
            F.concat(st.arr, F.array(st.tot + v)).alias("arr"),
            (st.tot + v).alias("tot")),
        lambda st: st.arr)
    if window:
        w = int(window)
        # trailing-window sum = prefix[i] − prefix[i−w]
        sums = F.zip_with(
            sums, F.sequence(F.lit(1), F.size(sums)),
            lambda s, i: s - F.when(
                i > w,
                F.element_at(sums, F.greatest(i - w, F.lit(1))))
            .otherwise(F.lit(0.0)))
    if not avg:
        return sums
    # CH divides by the WINDOW SIZE for every element — including the
    # ramp-up prefix — and by the total count when no window is given
    # (public groupArrayMovingAvg contract: [1,2,3,4] with window 2 →
    # [0.5, 1.5, 2.5, 3.5])
    denom = F.lit(float(window)) if window \
        else F.size(sums).cast("double")
    return F.transform(sums, lambda s: s / denom)


def _delta_sum_ts(x, t) -> Column:
    """deltaSumTimestamp(value, ts): sum of positive consecutive deltas
    in timestamp order — the order-deterministic form of deltaSum."""
    pairs = F.array_sort(F.collect_list(
        F.struct(_c(t).alias("t"),  # ordering only
                 _c(x).cast("double").alias("v"))))
    return F.aggregate(
        pairs,
        F.struct(F.lit(None).cast("double").alias("prev"),
                 F.lit(0.0).alias("acc")),
        lambda st, p: F.struct(
            p.v.alias("prev"),
            (st.acc + F.when(st.prev.isNotNull() & (p.v > st.prev),
                             p.v - st.prev).otherwise(0.0)).alias("acc")),
        lambda st: st.acc)


def _top_k_weighted(k: int, x, w) -> Column:
    """topKWeighted(k)(x, w): k values with the largest summed weights.
    NULL values (e.g. from an -If wrapper) are skipped; the group-local
    (value, weight) list is reduced per distinct value — no extra
    shuffle, no NULL map keys."""
    pairs = F.collect_list(F.when(
        _c(x).isNotNull(),
        F.struct(_c(x).alias("v"), _c(w).cast("double").alias("w"))))
    dv = F.array_distinct(F.transform(pairs, lambda p: p["v"]))
    ranked = F.array_sort(F.transform(dv, lambda v: F.struct(
        (-F.aggregate(F.filter(pairs, lambda p: p["v"] == v),
                      F.lit(0.0), lambda a, p: a + p["w"])).alias("nw"),
        v.alias("k"))))
    return F.slice(F.transform(ranked, lambda s: s["k"]), 1, int(k))


def _interval_length_sum(s, e) -> Column:
    """intervalLengthSum(start, end): length of the union of intervals
    (sweep over start-sorted intervals, merging overlaps)."""
    iv = F.array_sort(F.collect_list(
        F.struct(_c(s).cast("double").alias("s"),
                 _c(e).cast("double").alias("e"))))
    return F.aggregate(
        iv,
        F.struct(F.lit(None).cast("double").alias("hi"),
                 F.lit(0.0).alias("acc")),
        lambda st, p: F.struct(
            F.greatest(F.coalesce(st.hi, p.s), p.e).alias("hi"),
            (st.acc + F.greatest(
                p.e - F.greatest(F.coalesce(st.hi, p.s), p.s),
                F.lit(0.0))).alias("acc")),
        lambda st: st.acc)


def _max_intersections(s, e) -> Column:
    """maxIntersections(start, end): max number of [s, e) intervals
    covering any point — +1/-1 event sweep; ends sort before starts at
    equal points (struct order: point asc, then delta asc)."""
    events = F.array_sort(F.concat(
        F.collect_list(F.struct(_c(s).cast("double").alias("p"),
                                F.lit(1).alias("d"))),
        F.collect_list(F.struct(_c(e).cast("double").alias("p"),
                                F.lit(-1).alias("d")))))
    return F.aggregate(
        events,
        F.struct(F.lit(0).cast("long").alias("cur"),
                 F.lit(0).cast("long").alias("best")),
        lambda st, ev: F.struct(
            (st.cur + ev.d).alias("cur"),
            F.greatest(st.best, st.cur + ev.d).alias("best")),
        lambda st: st.best)


def _simple_linreg(x, y) -> Column:
    k = F.covar_pop(_c(x), _c(y)) / F.var_pop(_c(x))
    return F.struct(k.alias("k"),
                    (F.avg(_c(y)) - k * F.avg(_c(x))).alias("b"))


def _ema_time(halflife: float, v, t) -> Column:
    """exponentialMovingAverage(halflife)(value, time): time-decayed
    mean Σ v·2^(-(tmax-t)/h) / Σ 2^(-(tmax-t)/h).

    The 2^(-tmax/h) factor cancels mathematically, but NOT in double
    arithmetic: 2^(t/h) overflows to inf for Unix-epoch timestamps
    (t≈1.7e9, h=10 → 2^1.7e8). So the exponent is shifted by the
    per-group max first — collect once, anchor on tmax, fold with
    weights ≤ 1 (JVM array fold, group-local, no extra shuffle)."""
    h = F.lit(float(halflife))
    pairs = F.array_sort(F.collect_list(F.struct(
        _c(t).cast("double").alias("t"), _c(v).cast("double").alias("v"))))
    tmax = F.element_at(pairs, -1)["t"]
    st = F.aggregate(
        pairs,
        F.struct(F.lit(0.0).alias("num"), F.lit(0.0).alias("den")),
        lambda acc, p: F.struct(
            (acc["num"] + p["v"] * F.pow(F.lit(2.0), (p["t"] - tmax) / h))
            .alias("num"),
            (acc["den"] + F.pow(F.lit(2.0), (p["t"] - tmax) / h))
            .alias("den")))
    return st["num"] / st["den"]


AGGREGATES.update({
    "groupArrayMovingSum": lambda a, b=None: (
        _moving_fold(a) if b is None
        else _moving_fold(b, window=int(a))),
    "groupArrayMovingAvg": lambda a, b=None: (
        _moving_fold(a, avg=True) if b is None
        else _moving_fold(b, avg=True, window=int(a))),
    "deltaSumTimestamp": _delta_sum_ts,
    "quantileTiming": lambda q, x: F.percentile_approx(
        _c(x), F.lit(q)).cast("float"),
    "quantileDeterministic":
        lambda q, x, det=None: F.percentile(_c(x), F.lit(q)),
    "quantileBFloat16": lambda q, x: F.percentile_approx(
        _c(x), F.lit(q)).cast("double"),
    # array form reuses one collect_list buffer (Catalyst dedupes the
    # identical aggregate subexpression across the picks)
    "quantilesExact": _levels(1, lambda qs, x: F.array(
        *[_quantile_exact(x, q) for q in qs])),
    # Exclusive = R-6 (PERCENTILE.EXC); Inclusive = R-7 (PERCENTILE.INC)
    # — the latter is exactly Spark's exact percentile interpolation
    "quantileExactExclusive": lambda q, x: _quantile_exact_exclusive(x, q),
    "quantileExactInclusive": lambda q, x: F.percentile(_c(x), F.lit(q)),
    "quantilesExactExclusive": _levels(1, lambda qs, x: F.array(
        *[_quantile_exact_exclusive(x, q) for q in qs])),
    "quantilesExactInclusive": _levels(1, lambda qs, x: F.percentile(
        _c(x), F.array(*[F.lit(q) for q in qs]))),
    "quantilesTDigest": _levels(1, lambda qs, x: F.percentile_approx(
        _c(x), F.array(*[F.lit(q) for q in qs])).cast("array<float>")),
    "quantilesTiming": _levels(1, lambda qs, x: F.percentile_approx(
        _c(x), F.array(*[F.lit(q) for q in qs])).cast("array<float>")),
    # weighted quantiles: Spark percentile takes a frequency column
    "quantileExactWeighted": lambda q, x, w: F.percentile(
        _c(x), F.lit(q), _c(w).cast("long")),
    "quantilesExactWeighted": _levels(2, lambda qs, x, w: F.percentile(
        _c(x), F.array(*[F.lit(q) for q in qs]), _c(w).cast("long"))),
    "quantileTimingWeighted": lambda q, x, w: F.percentile(
        _c(x), F.lit(q), _c(w).cast("long")).cast("float"),
    # exact lower/upper-bound selection (no interpolation)
    "quantileExactLow": lambda q, x: F.element_at(
        F.array_sort(F.collect_list(_c(x))),
        _exact_rank("quantileExactLow", q, F.count(_c(x)))),
    "quantileExactHigh": lambda q, x: F.element_at(
        F.array_sort(F.collect_list(_c(x))),
        _exact_rank("quantileExactHigh", q, F.count(_c(x)))),
    "medianExact": lambda x: _quantile_exact(x, 0.5),
    "medianTDigest": lambda x: F.percentile_approx(
        _c(x), F.lit(0.5)).cast("float"),
    "topKWeighted": _top_k_weighted,
    "first_value": lambda x: F.first(_c(x), ignorenulls=True),
    "last_value": lambda x: F.last(_c(x), ignorenulls=True),
    "uniqTheta": lambda x: F.approx_count_distinct(_c(x)),
    "groupArraySample": lambda n, x: F.slice(
        F.collect_list(_c(x)), 1, int(n)),
    "groupArrayLast": lambda n, x: F.reverse(F.slice(
        F.reverse(F.collect_list(_c(x))), 1, int(n))),
    "sumCount": lambda x: F.struct(F.sum(_c(x)).alias("_1"),
                                   F.count(_c(x)).alias("_2")),
    "simpleLinearRegression": _simple_linreg,
    "intervalLengthSum": _interval_length_sum,
    "maxIntersections": _max_intersections,
    "exponentialMovingAverage": _ema_time,
})


def _entropy(x: Column) -> Column:
    """Shannon entropy (log2) of the value distribution:
    H = log2(n) - (Σ c·log2 c)/n over per-value counts c.

    Single aggregate expression: sort the group's values, fold runs of
    equal values accumulating Σ c·ln c — executor-side, O(group) work,
    no second shuffle."""
    lst = F.array_sort(F.collect_list(x.cast("string")))
    n = F.size(lst)
    init = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0.0).alias("acc"))
    ln = F.log  # natural log

    def step(st, v):
        same = st.prev.eqNullSafe(v)
        flushed = F.when(same | (st.run == 0), st.acc).otherwise(
            st.acc + st.run.cast("double") * ln(st.run.cast("double")))
        return F.struct(v.alias("prev"),
                        F.when(same, st.run + 1).otherwise(F.lit(1))
                        .alias("run"),
                        flushed.alias("acc"))

    def finish(st):
        total = F.when(st.run > 0, st.acc + st.run.cast("double")
                       * ln(st.run.cast("double"))).otherwise(st.acc)
        nd = n.cast("double")
        return F.when(n <= 1, F.lit(0.0)).otherwise(
            (ln(nd) - total / nd) / ln(F.lit(2.0)))

    return F.aggregate(lst, init, step, finish)

def _retention(*conds) -> Column:
    """retention(cond1, …, condN): array of 0/1 — r[0] = cond1 held on
    some row; r[i] = cond1 held somewhere AND cond_{i+1} held somewhere
    (public CH semantics: each later condition is only counted together
    with the first)."""
    firsts = [F.max(F.when(_c(c), 1).otherwise(0)) for c in conds]
    head = firsts[0]
    return F.array(head.cast("int"),
                   *[(head * f).cast("int") for f in firsts[1:]])


def _window_funnel(window, *rest) -> Column:
    """windowFunnel(window[, mode…])(ts, cond1, …, condK): longest prefix
    of the condition chain completed in timestamp order with the whole
    chain inside ``window`` of its cond1 event.

    Modes (public CH semantics, doc examples pinned in tests):
    ``strict_order`` — an event matching NO condition while a chain is
    active freezes the funnel at the level reached; ``strict_dedup`` —
    an event repeating the condition currently topping an active chain
    freezes it; ``strict_increase`` — steps only fire on strictly
    increasing timestamps.

    Greedy fold over the group's time-sorted events: level k's slot
    holds (chain-start, last-step) times of some chain that reached k; a
    cond_k event promotes level k-1's chain while inside the window;
    cond1 refreshes the start (latest start = most feasible). The best
    level ever reached is tracked so a mode interrupt reports the level
    before the interrupting event. One collect + sort per group."""
    modes, i = [], 0
    while i < len(rest) and isinstance(rest[i], str):
        modes.append(rest[i].strip("'\"").lower())
        i += 1
    ts, *conds = rest[i:]
    strict_order = "strict_order" in modes
    strict_dedup = "strict_dedup" in modes
    strict_inc = "strict_increase" in modes
    k = len(conds)
    # timestamp→double goes via a timestamp cast so TIMESTAMP_NTZ works;
    # numeric inputs round-trip seconds unchanged. Equal-timestamp events
    # order by FIRST MATCHING CONDITION index (CH processes same-ts
    # events in chain order, so A@t,B@t,C@t completes the funnel).
    csarr = F.array(*[F.when(_c(c), 1).otherwise(0) for c in conds])
    ci = F.coalesce(F.nullif(F.array_position(csarr, 1), F.lit(0)),
                    F.lit(k + 1))
    ev = F.array_sort(F.collect_list(F.struct(
        _c(ts).cast("timestamp").cast("double").alias("t"),
        ci.alias("ci"), csarr.alias("cs"))))
    empty_slot = F.struct(F.lit(None).cast("double").alias("s"),
                          F.lit(None).cast("double").alias("l"))
    init = F.struct(F.array_repeat(empty_slot, k).alias("slots"),
                    F.lit(0).alias("best"), F.lit(False).alias("dead"))

    def step(st: Column, e: Column) -> Column:
        def slot(lvl):
            return F.element_at(st["slots"], lvl)
        cs = [F.element_at(e["cs"], lvl) == 1 for lvl in range(1, k + 1)]
        active = [slot(lvl)["s"].isNotNull() for lvl in range(1, k + 1)]
        any_active = active[0]
        matches_any = cs[0]
        for lvl in range(1, k):
            any_active = any_active | active[lvl]
            matches_any = matches_any | cs[lvl]
        kill = F.lit(False)
        if strict_dedup:
            for lvl in range(k):
                kill = kill | (cs[lvl] & active[lvl])
        if strict_order:
            kill = kill | (~matches_any & any_active)
        new = {}
        for lvl in range(k, 1, -1):
            prev = slot(lvl - 1)
            fired = cs[lvl - 1] & prev["s"].isNotNull() \
                & (e["t"] - prev["s"] <= F.lit(float(window)))
            if strict_inc:
                fired = fired & (e["t"] > prev["l"])
            new[lvl] = F.when(fired, F.struct(prev["s"].alias("s"),
                                              e["t"].alias("l"))) \
                        .otherwise(slot(lvl))
        new[1] = F.when(cs[0], F.struct(e["t"].alias("s"),
                                        e["t"].alias("l"))) \
                  .otherwise(slot(1))
        best = st["best"]
        for lvl in range(1, k + 1):
            best = F.greatest(best, F.when(new[lvl]["s"].isNotNull(),
                                           F.lit(lvl)).otherwise(0))
        advanced = F.struct(
            F.array(*[new[lvl] for lvl in range(1, k + 1)]).alias("slots"),
            best.alias("best"), F.lit(False).alias("dead"))
        frozen = F.struct(st["slots"].alias("slots"),
                          st["best"].alias("best"),
                          F.lit(True).alias("dead"))
        return F.when(st["dead"] | kill, frozen).otherwise(advanced)

    return F.aggregate(ev, init, step)["best"].cast("int")


def _parse_seq_pattern(pattern: str) -> list[tuple[int, bool, tuple | None]]:
    """'(?1)(?t<3)(?2)(?3)' → [(1, False, None), (2, False, ('<', 3)),
    (3, True, None)]: (condition number, STRICTLY adjacent to previous
    step, time constraint vs the previous step's match)."""
    import re as _re
    pattern = str(pattern).strip("'\"")
    steps: list[tuple[int, bool, tuple | None]] = []
    pos, strict, tcond = 0, False, None
    while pos < len(pattern):
        m = _re.match(r"\(\?(\d+)\)", pattern[pos:])
        if m:
            steps.append((int(m.group(1)), strict and bool(steps), tcond))
            strict, tcond = True, None
            pos += m.end()
            continue
        m = _re.match(r"\(\?t\s*(<=|>=|==|<|>)\s*(\d+)\)", pattern[pos:])
        if m:
            # time matcher between steps: constrains the gap to the
            # previous match, relaxes strict adjacency (like '.*')
            if not steps:
                raise ValueError("sequenceMatch: (?t...) cannot lead "
                                 "the pattern")
            tcond = (m.group(1), int(m.group(2)))
            strict = False
            pos += m.end()
            continue
        if pattern[pos:pos + 2] == ".*":
            strict = False
            pos += 2
            continue
        raise ValueError(
            f"sequenceMatch: unsupported pattern element at {pos} in "
            f"{pattern!r} (supported: '(?N)' steps, '(?t<N)' time "
            f"constraints, '.*' gaps)")
    return steps


def _sequence_fold(pattern, ts, conds, count: bool) -> Column:
    """sequenceMatch/sequenceCount('(?1).*(?2)…')(ts, cond1, …):
    does the condition chain occur in chronological order (resp. how
    many non-overlapping times)? One collect + sort per group, then a
    pointer-advancing fold; strict steps require the very next event."""
    steps = _parse_seq_pattern(pattern)
    # double timestamps so (?t op N) gaps are arithmetic (CH requires a
    # numeric/datetime timestamp column); ordering is unchanged
    ev = F.array_sort(F.collect_list(F.struct(
        _c(ts).cast("timestamp").cast("double").alias("t"),
        F.array(*[F.when(_c(c), 1).otherwise(0) for c in conds])
         .alias("cs"))))
    init = F.struct(F.lit(0).alias("i"), F.lit(0).cast("long").alias("n"),
                    F.lit(None).cast("double").alias("pt"))
    _TOPS = {"<": Column.__lt__, "<=": Column.__le__, ">": Column.__gt__,
             ">=": Column.__ge__, "==": Column.__eq__}

    def advance(i: Column, pt: Column, e: Column) -> tuple:
        """One event against the chain from position ``i`` (pt = time of
        the previous step's match) → (next position, new prev-time,
        did-a-strict-step-mismatch)."""
        nxt, npt, reset = i, pt, F.lit(False)
        for idx, (cond_no, strict, tcond) in enumerate(steps):
            fired = F.element_at(e["cs"], cond_no) == 1
            if tcond is not None:
                op, val = tcond
                fired = fired & pt.isNotNull() \
                    & _TOPS[op](e["t"] - pt, F.lit(float(val)))
            here = (i == F.lit(idx)) & fired
            nxt = F.when(here, F.lit(idx + 1)).otherwise(nxt)
            npt = F.when(here, e["t"]).otherwise(npt)
            if strict:
                reset = reset | ((i == F.lit(idx)) & ~fired)
        return nxt, npt, reset

    def step_fn(st: Column, e: Column) -> Column:
        nxt, npt, reset = advance(st["i"], st["pt"], e)
        # a strict-step mismatch breaks the chain, but the SAME event may
        # start a new one (e.g. '(?1)(?2)' over [c1, c1, c2] matches on
        # the second c1) — re-run the event from position 0
        nxt0, npt0, _ = advance(F.lit(0), F.lit(None).cast("double"), e)
        nxt = F.when(reset, nxt0).otherwise(nxt)
        npt = F.when(reset, npt0).otherwise(npt)
        done = nxt >= len(steps)
        return F.struct(F.when(done, 0).otherwise(nxt).alias("i"),
                        (st["n"] + F.when(done, 1).otherwise(0))
                        .alias("n"),
                        F.when(done, F.lit(None).cast("double"))
                         .otherwise(npt).alias("pt"))

    final = F.aggregate(ev, init, step_fn)
    if count:
        return final["n"]
    return (final["n"] > 0).cast("int")


def _bitmap_fold(op):
    """Fold per-row bitmap arrays group-locally (intersect/union)."""
    def fn(b):
        lst = F.collect_list(_c(b))
        return F.array_sort(F.aggregate(
            F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0))),
            F.element_at(lst, 1),
            lambda acc, m: op(acc, m)))
    return fn


AGGREGATES.update({
    # bitmaps ≙ sorted-distinct arrays (see registry bitmap family)
    "groupBitmap": lambda x: F.count_distinct(_c(x)),
    "groupBitmapState": lambda x: F.array_sort(F.collect_set(_c(x))),
    # the plain And/Or/Xor forms return the CARDINALITY of the folded
    # bitmap (CH contract: UInt64); the -State forms return the bitmap
    "groupBitmapAnd": lambda b: F.size(
        _bitmap_fold(F.array_intersect)(b)).cast("long"),
    "groupBitmapOr": lambda b: F.size(
        _bitmap_fold(F.array_union)(b)).cast("long"),
    "groupBitmapXor": lambda b: F.size(_bitmap_fold(
        lambda a, m: F.array_union(F.array_except(a, m),
                                   F.array_except(m, a)))(b)).cast("long"),
    "groupBitmapAndState": _bitmap_fold(F.array_intersect),
    "groupBitmapOrState": _bitmap_fold(F.array_union),
    "groupBitmapXorState": _bitmap_fold(
        lambda a, m: F.array_union(F.array_except(a, m),
                                   F.array_except(m, a))),
})


AGGREGATES.update({
    "retention": _retention,
    "windowFunnel": _window_funnel,
    "sequenceMatch": lambda pat, ts, *conds: _sequence_fold(
        pat, ts, conds, count=False),
    "sequenceCount": lambda pat, ts, *conds: _sequence_fold(
        pat, ts, conds, count=True),
    "uniqUpTo": lambda n, x: F.least(F.count_distinct(_c(x)),
                                     F.lit(int(n) + 1)),
    "groupArraySorted": lambda n, x: F.slice(
        F.array_sort(F.collect_list(_c(x))), 1, int(n)),
})


# --- per-array kernels (-Array, -Distinct, -ForEach, arrayReduce) --------

def _var_flat(flat: Column, samp: bool) -> Column:
    """Population/sample variance of one array's elements (two-pass over
    the group-local array — JVM-side, no extra shuffle). One value gives
    the sample forms nan (0/0), as the row aggregates do; no value gives
    NULL."""
    d = F.filter(flat, lambda v: v.isNotNull())
    d = F.transform(d, lambda v: v.cast("double"))
    n = F.size(d).cast("double")
    mean = F.aggregate(d, F.lit(0.0), lambda a, v: a + v) / n
    ss = F.aggregate(d, F.lit(0.0),
                     lambda a, v: a + (v - mean) * (v - mean))
    denom = (n - 1) if samp else n
    out = F.when(denom > 0, ss / denom)
    return out.when(n > 0, F.lit(float("nan"))) if samp else out


def _quantile_flat(flat: Column, q: float) -> Column:
    """Exact interpolated quantile of one array's elements (matches
    percentile/percentile_cont semantics)."""
    d = F.array_sort(F.filter(flat, lambda v: v.isNotNull()))
    d = F.transform(d, lambda v: v.cast("double"))
    n = F.size(d)
    pos = (n.cast("double") - 1) * F.lit(float(q))
    lo = F.floor(pos).cast("int")
    frac = pos - lo.cast("double")
    lo_v = F.element_at(d, lo + 1)
    hi_v = F.element_at(d, F.least(lo + 2, n))
    return F.when(n > 0, lo_v + (hi_v - lo_v) * frac)


def _quantile_flat_exclusive(flat: Column, q: float) -> Column:
    """R-6 (PERCENTILE.EXC) over one array's elements — the -Array form
    of quantileExactExclusive."""
    d = F.array_sort(F.filter(flat, lambda v: v.isNotNull()))
    d = F.transform(d, lambda v: v.cast("double"))
    n = F.size(d)
    h = F.lit(float(q)) * (n + 1).cast("double")
    lo = F.greatest(F.least(F.floor(h).cast("int"), n - 1), F.lit(1))
    v_lo = F.element_at(d, lo)
    v_hi = F.element_at(d, F.least(lo + 1, n))
    return F.when(n == 0, F.lit(None).cast("double")) \
            .when(h <= 1.0, F.element_at(d, 1)) \
            .when(h >= n.cast("double"), F.element_at(d, n)) \
            .otherwise(v_lo + (h - lo.cast("double")) * (v_hi - v_lo))


# per-array spellings that pick like their row kernel -> that kernel
_EXACT_PICKS = {"quantileExact": "quantileExact",
                "quantilesExact": "quantileExact",
                "quantileExactLow": "quantileExactLow",
                "quantileExactHigh": "quantileExactHigh"}


def reduce_array(name: str, params, flat: Column,
                 sfx: str = "Array") -> Column:
    """Apply aggregate ``name`` with its ``params`` to the elements of one
    array: the kernel behind -Array, -Distinct, arrayReduce and
    arrayReduceInRanges. quantileExact, quantilesExact and
    quantileExactLow/High pick their row kernels' element; the other
    parametric quantiles interpolate exactly (R-6 for the Exclusive
    names, R-7 otherwise); -OrNull, -OrDefault and -Array stacked on the
    name wrap the inner reduction."""
    from .registry import REGISTRY as R
    if name in _EXACT_PICKS and params:
        d = F.array_sort(F.filter(flat, lambda v: v.isNotNull()))
        picks = [_exact_pick(d, _EXACT_PICKS[name], q) for q in params]
        return F.array(*picks) if name == "quantilesExact" else picks[0]
    if name.startswith(("quantile", "median")) and (params
                                                    or name == "median"):
        pick = (_quantile_flat_exclusive if "Exclusive" in name
                else _quantile_flat)
        levels = params or [0.5]
        if name.startswith("quantiles"):
            return F.array(*[pick(flat, float(q)) for q in levels])
        return pick(flat, float(levels[0]))
    reducers = {
        "sum": lambda: R["arraySum"](flat),
        "count": lambda: F.size(flat).cast("long"),
        "avg": lambda: R["arrayAvg"](flat),
        "min": lambda: F.array_min(flat),
        "max": lambda: F.array_max(flat),
        "any": lambda: F.element_at(flat, 1),
        "anyLast": lambda: F.element_at(flat, -1),
        "uniq": lambda: F.size(F.array_distinct(flat)).cast("long"),
        "uniqExact": lambda: F.size(F.array_distinct(flat)).cast("long"),
        "groupArray": lambda: flat,            # groupArrayArray = concat
        "groupUniqArray": lambda: F.array_distinct(flat),
        "varPop": lambda: _var_flat(flat, samp=False),
        "varSamp": lambda: _var_flat(flat, samp=True),
        "stddevPop": lambda: F.sqrt(_var_flat(flat, samp=False)),
        "stddevSamp": lambda: F.sqrt(_var_flat(flat, samp=True)),
    }
    if name in reducers and not params:
        return reducers[name]()
    # canonical-order stacking on a SUFFIXED base (reference rewrite
    # appends a combinator to any name, ExpressionElementParsers.cpp:
    # 866-867): peel the base's own trailing combinator and wrap the
    # inner flat reduction — minOrNullDistinct reduces min over the
    # distinct array, then applies the empty-set→NULL contract.
    if name.endswith("OrNull") and len(name) > 6:
        inner = reduce_array(name[:-6], params, flat, sfx)
        return F.when(F.size(flat) > 0, inner)
    if name.endswith("OrDefault") and len(name) > 9:
        inner = reduce_array(name[:-9], params, flat, sfx)
        return F.coalesce(inner, F.lit(0))
    if name.endswith("Array") and len(name) > 5:
        # stacked -ArrayArray (sumArrayArray over Array(Array(T))):
        # flatten one level and reduce with the inner base
        return reduce_array(name[:-5], params, F.flatten(flat), sfx)
    with_params = " with parameters" if params else ""
    raise ValueError(f"-{sfx} combinator unsupported for {name}"
                     f"{with_params}")


def _foreach_combinator(base_name: str, arr) -> Column:
    """-ForEach: position-wise aggregation across array rows
    (sumForEach over [1,2] and [3,4] = [4, 6])."""
    arr = _c(arr)
    if base_name == "count":
        arr = F.transform(arr, lambda x: F.when(x.isNotNull(), 1)
                          .otherwise(0).cast("long"))
        base_name = "sum"
    if base_name == "avg":
        return F.zip_with(_foreach_combinator("sum", arr),
                          _foreach_combinator("count", arr),
                          lambda s, n: s / n)
    # NULL-skipping sum without a typed zero literal: coalesce(x, 0)
    # trips DATA_DIFF_TYPES when the element type is narrower than int
    # (e.g. a UInt8 array literal), so branch on nullness instead
    ops = {"sum": lambda a, b: F.when(a.isNull(), b)
           .when(b.isNull(), a).otherwise(a + b),
           "min": lambda a, b: F.least(a, b),
           "max": lambda a, b: F.greatest(a, b)}
    if base_name not in ops:
        raise ValueError(f"-ForEach combinator unsupported for {base_name}")
    lst = F.collect_list(arr)
    rest = F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0)))
    return F.aggregate(rest, F.element_at(lst, 1),
                       lambda acc, m: F.zip_with(acc, m, ops[base_name]))


def _combine(base, base_name: str, sfx: str, params: list, arg_type):
    if sfx == "If":
        def _ifed(*a):
            # CH truthy condition: any non-zero numeric counts
            # (countIf(x % 2)); non-ANSI numeric→boolean cast ≡ != 0
            cond = _c(a[-1]).cast("boolean")
            vals = a[:-1]
            if not vals:                        # countIf(cond)
                return base(F.when(cond, F.lit(1)))
            raw = getattr(base, "_raw", None)
            if raw is not None and len(vals) == 1:
                # uniq family: the NULL-as-distinct-value flag must see
                # only rows the condition SELECTS — masking non-matching
                # rows to NULL would add a phantom distinct value
                # (uniqExactIf(x, cond) over all-matching non-NULL rows
                # must not count the masked rest)
                v = _c(vals[0])
                flag = F.coalesce(F.max(F.when(
                    F.coalesce(cond, F.lit(False)) & v.isNull(),
                    1).otherwise(0)), F.lit(0))
                return (raw(F.when(cond, v)) + flag).cast("long")
            return base(*[F.when(cond, _c(x)) for x in vals])
        return _ifed
    if sfx == "OrNull":
        # NULL on an empty set (Spark sums already do; counts return 0)
        return lambda *a: F.when(F.count(F.lit(1)) > 0, base(*a))
    if sfx == "OrDefault":
        return lambda *a: F.coalesce(base(*a), F.lit(0))
    if sfx in ("State", "SimpleState", "Merge", "MergeState"):
        # Real partial-aggregate state for the uniq family: uniqState is
        # a genuine HLL sketch (binary, Spark DataSketches — the analogue
        # of CH's AggregateFunction(uniq, T) state), uniqExactState the
        # distinct-value array. States round-trip through parquet and
        # merge with uniqMerge / AggregatingMergeTree FINAL. Other
        # aggregates collapse to finalized values (Spark owns their
        # partial-aggregate state — documented divergence).
        if base_name in ("uniq", "uniqHLL12", "uniqCombined") \
                and sfx != "SimpleState":
            if sfx == "State":
                return lambda x: F.hll_sketch_agg(_sketch_input(x, arg_type))
            if sfx == "Merge":
                return lambda s: F.hll_sketch_estimate(F.hll_union_agg(_c(s)))
            return lambda s: F.hll_union_agg(_c(s))     # MergeState
        if base_name == "uniqExact" and sfx != "SimpleState":
            if sfx == "State":
                return lambda x: F.collect_set(_c(x))
            merged = lambda s: F.array_distinct(                # noqa: E731
                F.flatten(F.collect_list(_c(s))))
            if sfx == "Merge":
                return lambda s: F.size(merged(s)).cast("long")
            return merged                                # MergeState
        if sfx in ("Merge", "MergeState"):
            # merging collapsed (finalized) states: a trailing -If on
            # the base belongs to the STATE-producing side, never
            # re-applied at merge (sumIfMerge ≡ sumMerge); count states
            # merge by SUMMING, not by counting state rows
            if base_name.endswith("If") and len(base_name) > 2:
                return resolve_aggregate(base_name[:-2] + sfx, params,
                                         arg_type)
            _MERGE_OPS = {
                "count": lambda s: F.coalesce(
                    F.sum(_c(s)), F.lit(0)).cast("long"),
                "sum": lambda s: F.sum(_c(s)),
                "min": lambda s: F.min(_c(s)),
                "max": lambda s: F.max(_c(s)),
                "any": lambda s: F.first(_c(s), ignorenulls=True),
                "anyLast": lambda s: F.last(_c(s), ignorenulls=True),
                "groupArray": lambda s: F.flatten(
                    F.collect_list(_c(s))),
                "groupUniqArray": lambda s: F.array_distinct(
                    F.flatten(F.collect_list(_c(s)))),
            }
            if base_name in _MERGE_OPS:
                return _MERGE_OPS[base_name]
            # avg/moment family: states are finalized values, so the
            # merge is the base re-applied — exact for a single state
            # row, an approximation across rows (documented divergence)
            return base
        return base
    if sfx == "Array":
        # -Array: aggregate over every ELEMENT of the array arguments
        # (sumArray([1,2]) over 2 rows = sum of 4 numbers) — one flatten
        # over the group's collected arrays, then an array reduction
        return lambda arr: reduce_array(
            base_name, params, F.flatten(F.collect_list(_c(arr))))
    if sfx == "ForEach":
        return lambda arr: _foreach_combinator(base_name, arr)
    if sfx in ("ArgMin", "ArgMax"):
        # -ArgMin/-ArgMax (published combinator): apply the base ONLY to
        # rows whose last argument is the group's min/max — CH keeps a
        # (state, best_v) pair, restarting the state on a better v, so
        # the result is the base over ALL best-v rows. Buffered fold
        # (bounded by the group, same state class as rankCorr etc.),
        # reduced by the base's array kernel.
        def _arged(*a):
            v = _c(a[-1])
            x = _c(a[0]) if len(a) > 1 else F.lit(1)
            pairs = F.collect_list(F.struct(v.alias("v"), x.alias("x")))
            # best v as a SEPARATE aggregate — an array_min over the
            # collected pairs would inline into the filter lambda and
            # recompute per element (O(n²) per group)
            best = F.min(v) if sfx == "ArgMin" else F.max(v)
            sel = F.transform(
                F.filter(pairs, lambda s: s["v"] == best),
                lambda s: s["x"])
            return reduce_array(base_name, params, sel, sfx)
        return _arged
    if sfx == "Map":
        # generic -Map combinator (sumMap/minMap/maxMap are base
        # aggregates of their own): apply the base per map KEY across
        # the group — countMap, avgMap, uniqMap, anyMap … — with the
        # base's array kernel over each key's values
        def _mapped(*a):
            m = _c(a[0]) if len(a) == 1 else F.map_from_arrays(_c(a[0]),
                                                               _c(a[1]))
            entries = F.flatten(F.collect_list(F.map_entries(m)))
            keys = F.array_sort(F.array_distinct(
                F.transform(entries, lambda e: e["key"])))
            return F.map_from_arrays(
                keys,
                F.transform(keys, lambda k: reduce_array(
                    base_name, params, F.transform(
                        F.filter(entries, lambda e: e["key"] == k),
                        lambda e: e["value"]), sfx)))
        return _mapped
    if sfx == "Distinct":
        # -Distinct: aggregate over the group's distinct values (natively
        # implemented bases — sumDistinct, countDistinct — resolve first
        # and never reach this)
        def _distincted(*a):
            inner, x = base_name, a[0] if a else None
            if base_name.endswith("If") and len(base_name) > 2 \
                    and len(a) == 2:
                # avgIf(DISTINCT x, p): filter first (collect_list drops
                # the NULLed-out rows), then distinct-reduce with the
                # unsuffixed base — filter-then-distinct ≡
                # distinct-of-filtered for a row predicate
                inner = base_name[:-2]
                x = F.when(_c(a[1]).cast("boolean"), _c(a[0]))
            elif len(a) != 1:
                raise ValueError(
                    f"-Distinct combinator needs exactly one argument "
                    f"for {base_name} (got {len(a)})")
            return reduce_array(inner, params, F.array_distinct(
                F.collect_list(_c(x))), "Distinct")
        return _distincted
    raise AssertionError(sfx)


_COMBINATOR_SUFFIXES = ("OrNull", "OrDefault", "SimpleState", "MergeState",
                        "State", "Merge", "Array", "ForEach", "If",
                        "Distinct", "ArgMin", "ArgMax", "Map")


def resolve_aggregate(name: str, params=(), arg_type=None
                      ) -> Callable[..., Column] | None:
    """Aggregate name with its combinator suffixes → callable over the
    call's argument columns; None if ``name`` is not an aggregate
    (callers then treat it as a scalar). ``params`` are the call's
    parameters (quantile(0.9)(x)); ``arg_type(i)`` gives the Spark type
    of argument ``i``, or None, to the kernels that depend on it.
    Raises ValueError when the base takes no parameters."""
    arg_type = arg_type or _untyped
    params = list(params)
    if name in AGGREGATES:
        return _bind(name, AGGREGATES[name], params, arg_type)
    if name.endswith("Resample") and len(name) > 8:
        # the last three parameters are the resampling's own
        base = resolve_aggregate(name[:-8], params[:-3], arg_type)
        return None if base is None else _resample(base, params)
    for sfx in _COMBINATOR_SUFFIXES:
        if name.endswith(sfx) and len(name) > len(sfx):
            base_name = name[:-len(sfx)]
            base = resolve_aggregate(base_name, params, arg_type)
            if base is None:
                continue
            return _combine(base, base_name, sfx, params, arg_type)
    return None


# --- resolution: parameters, then combinators (public CH mechanics) -------
#
# Any aggregate name can be suffixed: sumIf, sumArray, sumArrayIf,
# avgForEach, countOrNull, anyState, countResample, … Resolution peels
# suffixes right to left until it reaches a base aggregate, binds the
# call's parameters into that base, then composes the combinator wrappers
# around it — so topKIf(2)(x, c), quantileArray(0.5)(a) and
# quantileExactExclusiveOrNull(0.5)(x) need no special case.

# bases whose published signature takes leading parameters (these and
# every quantile*); each kernel takes them first and coerces them
# itself. Any other base given parameters is an error (uniqExact(1)(x)
# must not become count_distinct(1, x)).
_PARAMETRIC = frozenset({
    "groupArray", "groupUniqArray", "groupConcat", "groupArrayMovingSum",
    "groupArrayMovingAvg", "groupArrayInsertAt", "groupArraySample",
    "groupArrayLast", "groupArraySorted", "topK", "topKWeighted",
    "histogram", "uniqUpTo", "sparkbar", "sparkBar",
    "largestTriangleThreeBuckets", "lttb", "meanZTest", "windowFunnel",
    "exponentialMovingAverage", "sequenceMatch", "sequenceCount",
    "stochasticLinearRegression", "stochasticLogisticRegression",
    "sumMapFiltered"})
# uniqCombined(HLL_precision)(x): the precision tunes the sketch's
# memory/error trade-off; the HLL backing here uses its default rsd
_PRECISION_ONLY = frozenset({"uniqCombined", "uniqCombined64"})

# sum(x > 5): CH aggregates a predicate argument as a UInt8 number
NUMERIC_PREFIXES = (
    "sum", "avg", "quantile", "median", "stddev", "var", "covar", "corr",
    "skew", "kurt", "deltaSum", "boundingRatio", "rankCorr")


def _bind(name: str, fn, params: list, arg_type) -> Callable[..., Column]:
    if name in _PRECISION_ONLY and len(params) == 1:
        params = []
    if params and not (name.startswith("quantile")
                       or name in _PARAMETRIC):
        raise ValueError(f"aggregate function {name} cannot have parameters")
    if getattr(fn, "typed", False):
        # a typed kernel sees the params first: position i is an argument
        # of the call only from len(params) on
        n = len(params)
        fn = partial(fn, arg_type=lambda i: arg_type(i - n) if i >= n
                     else None)
    return (lambda *a: fn(*params, *a)) if params else fn


def _resample(base, params: list) -> Callable[..., Column]:
    """-Resample(start, end, step)(args…, key): one aggregate per key
    bucket [lo, lo + step), expanded statically (params are literals) —
    a single pass with map-side combine per bucket."""
    def resampled(*a):
        if len(params) < 3:
            raise ValueError("-Resample needs the (start, end, step) "
                             "parameters")
        start, end, step = (int(p) for p in params[-3:])
        key, vals = _c(a[-1]), a[:-1]
        buckets = []
        for lo in range(start, end, step):
            cond = (key >= F.lit(lo)) & (key < F.lit(lo + step))
            buckets.append(base(*[F.when(cond, v) for v in vals]) if vals
                           else base(F.when(cond, F.lit(1))))
        return F.array(*buckets)
    return resampled


def _sketch_input(x, arg_type) -> Column:
    """hll_sketch_agg accepts int/bigint/string/binary only: widen narrow
    integrals (CH UInt8/16 land as tinyint/smallint after the
    wrap-modulo lowering) and stringify other types."""
    dt = arg_type(0)
    s = dt.simpleString() if dt is not None else None
    if s in ("tinyint", "smallint", "boolean"):
        return _c(x).cast("bigint")
    if s is not None and s not in ("int", "bigint", "string", "binary"):
        return _c(x).cast("string")
    return _c(x)


# --- two-sample statistical tests ------------------------------------------
#
# studentTTest/welchTTest(sample_data, sample_index) → named tuple
# (t_statistic, p_value), sample_index ∈ {0,1} (public CH signatures;
# the reference's Functions/ library is absent). Each compiles to a
# single composite aggregate expression — one map-side-combined shuffle,
# identical to any other GROUP BY aggregate. The p-value uses the
# normal approximation to the t CDF via erf (exact as df → ∞;
# documented deviation — CH evaluates the exact Student CDF).

def _sample_moments(v, idx, which: int):
    x = F.when(_c(idx).cast("int") == which, _c(v).cast("double"))
    return (F.count(x).cast("double"), F.avg(x), F.var_samp(x))


def _t_p_value(t: Column) -> Column:
    import math

    from .registry import _erf
    return 1.0 - _erf(F.abs(t) / F.lit(math.sqrt(2.0)))   # 2-sided


def _student_t_test(v, idx) -> Column:
    n0, m0, v0 = _sample_moments(v, idx, 0)
    n1, m1, v1 = _sample_moments(v, idx, 1)
    sp2 = ((n0 - 1.0) * v0 + (n1 - 1.0) * v1) / (n0 + n1 - 2.0)
    t = (m0 - m1) / F.sqrt(sp2 * (1.0 / n0 + 1.0 / n1))
    return F.struct(t.alias("t_statistic"),
                    _t_p_value(t).alias("p_value"))


def _welch_t_test(v, idx) -> Column:
    n0, m0, v0 = _sample_moments(v, idx, 0)
    n1, m1, v1 = _sample_moments(v, idx, 1)
    t = (m0 - m1) / F.sqrt(v0 / n0 + v1 / n1)
    return F.struct(t.alias("t_statistic"),
                    _t_p_value(t).alias("p_value"))


def _mean_z_test(pv0, pv1, conf, v, idx) -> Column:
    """meanZTest(pop_var_x, pop_var_y, confidence)(data, index) →
    (z_statistic, p_value, ci_low, ci_high) per the public CH
    signature; the population variances are GIVEN, so the statistic is
    exactly normal (no t approximation)."""
    import math
    n0, m0, _ = _sample_moments(v, idx, 0)
    n1, m1, _ = _sample_moments(v, idx, 1)
    se = F.sqrt(F.lit(float(pv0)) / n0 + F.lit(float(pv1)) / n1)
    z = (m0 - m1) / se
    # two-sided quantile of the normal via the inverse error function
    # is not available JVM-side; the CI half-width uses the erf-based
    # approximation of z_{(1+conf)/2} computed in Python (constant)
    from statistics import NormalDist
    zq = NormalDist().inv_cdf((1.0 + float(conf)) / 2.0)
    return F.struct(
        z.alias("z_statistic"),
        _t_p_value(z).alias("p_value"),
        ((m0 - m1) - zq * se).alias("confidence_interval_low"),
        ((m0 - m1) + zq * se).alias("confidence_interval_high"))


def _anova(v, idx) -> Column:
    """analysisOfVariance / anova(data, group_index) → (f_statistic,
    p_value), one-way ANOVA over an arbitrary number of groups (public
    CH signature). Group count is data-dependent, so the state is the
    collected (group, value) list finalized with HOF folds — bounded by
    the GROUP BY group like groupArray states (CH keeps per-group
    moments; documented deviation). The p-value maps F through the
    Paulson normal approximation and the erf-based normal CDF (same
    approximation class as the t-test family here)."""
    import math

    from .registry import _erf
    pairs = F.collect_list(F.struct(_c(idx).cast("int").alias("g"),
                                    _c(v).cast("double").alias("v")))
    groups = F.array_distinct(F.transform(pairs, lambda s: s["g"]))
    k = F.size(groups).cast("double")
    n_tot = F.size(pairs).cast("double")
    grand_mean = F.aggregate(pairs, F.lit(0.0),
                             lambda a, s: a + s["v"]) / n_tot

    def gstats(gid):
        vals = F.filter(pairs, lambda s: s["g"] == gid)
        n = F.size(vals).cast("double")
        m = F.aggregate(vals, F.lit(0.0), lambda a, s: a + s["v"]) / n
        ssw = F.aggregate(vals, F.lit(0.0),
                          lambda a, s: a + (s["v"] - m) * (s["v"] - m))
        return F.struct(n.alias("n"), m.alias("m"), ssw.alias("ssw"))

    st = F.transform(groups, gstats)
    ssb = F.aggregate(
        st, F.lit(0.0),
        lambda a, s: a + s["n"] * (s["m"] - grand_mean)
        * (s["m"] - grand_mean))
    ssw = F.aggregate(st, F.lit(0.0), lambda a, s: a + s["ssw"])
    df1, df2 = k - 1.0, n_tot - k
    fstat = (ssb / df1) / (ssw / df2)
    # Paulson (1942) normal approximation of the F upper tail
    a1, a2 = 2.0 / (9.0 * df1), 2.0 / (9.0 * df2)
    fcbrt = F.pow(fstat, 1.0 / 3.0)
    z = ((1.0 - a2) * fcbrt - (1.0 - a1)) \
        / F.sqrt(fcbrt * fcbrt * a2 + a1)
    p = 0.5 * (1.0 - _erf(z / F.lit(math.sqrt(2.0))))
    # the approximation loses the F→0 edge; the exact tail there is 1
    p = F.when(fstat <= 0.0, F.lit(1.0)).otherwise(p)
    return F.struct(fstat.alias("f_statistic"), p.alias("p_value"))


@_typed
def _group_array_insert_at(*a, arg_type=_untyped) -> Column:
    """groupArrayInsertAt([default[, size]])(x, pos): place x at its
    0-based pos; gaps take the explicit default (params lead, CH
    convention) or the value type's default (IDataType::getDefault).
    State is the collected (pos, value) pair list — bounded by the
    group, same as CH's array state."""
    default = size = None
    if len(a) == 2:
        x, pos = a
        dt = arg_type(0)
        default = empty_set_default("", dt) if dt is not None else None
    elif len(a) == 3:
        default, x, pos = a
    elif len(a) == 4:
        default, size, x, pos = a
    else:
        raise ValueError("groupArrayInsertAt takes (x, pos) with "
                         "optional (default[, size]) parameters")
    pairs = F.collect_list(F.struct(_c(pos).cast("int").alias("p"),
                                    _c(x).alias("v")))
    n = (F.lit(int(size)) if size is not None
         else F.array_max(F.transform(pairs, lambda s: s["p"])) + 1)
    if default is None:
        filler = F.lit(None)
    elif isinstance(default, Column):
        filler = default
    else:
        filler = F.lit(default)

    def slot(i):
        hit = F.element_at(
            F.filter(pairs, lambda s: s["p"] == i), -1)
        return F.coalesce(hit["v"], filler)

    return F.transform(F.sequence(F.lit(0), n - 1), slot)


AGGREGATES.update({
    "studentTTest": _student_t_test,
    "welchTTest": _welch_t_test,
    "meanZTest": _mean_z_test,
    "analysisOfVariance": _anova,
    "anova": _anova,
    "groupArrayInsertAt": _group_array_insert_at,
})


# --- Map-combining aggregates (sumMap / minMap / maxMap) -------------------
#
# CH sumMap(keys, values) sums values per key across rows and returns
# (sorted keys, values); sumMap(map) returns the merged map. Each row
# becomes one map, and the group's maps fold with map_zip_with (key-union
# merge) seeded with the first map — the same bounded-by-distinct-keys
# state CH keeps, one map-side-combined shuffle, no explode+regroup.

def _map_fold(op, widen_ints: bool = False) -> Callable[..., Column]:
    def merge(_, a, b):
        return F.when(a.isNull(), b).when(b.isNull(), a).otherwise(op(a, b))

    @_typed
    def agg(k, v=None, arg_type=_untyped):
        as_map = v is None
        if as_map:
            k, v = F.map_keys(_c(k)), F.map_values(_c(k))
        k, v = _c(k), _c(v)
        if widen_ints:
            # CH widens summed integers to Int64 (NumberTraits), so a
            # 32-bit value cannot overflow mid-group
            dt = arg_type(0 if as_map else 1)
            et = getattr(dt, "valueType" if as_map else "elementType", None)
            if et is not None and et.simpleString() in INT_TYPES:
                v = v.cast("array<bigint>")
        # a single row may repeat keys (sumMap([1,2,1], [10,20,30])) — CH
        # combines them; map_from_arrays would throw DUPLICATED_MAP_KEY.
        # Fold single-entry maps with the same merge, entirely row-local.
        per_row = F.aggregate(
            F.zip_with(k, v, lambda a, b: F.map_from_arrays(F.array(a),
                                                            F.array(b))),
            F.map_from_arrays(F.slice(k, 1, 0), F.slice(v, 1, 0)),
            lambda acc, m: F.map_zip_with(acc, m, merge))
        maps = F.collect_list(per_row)
        merged = F.aggregate(
            F.slice(maps, F.lit(2), F.greatest(F.size(maps) - 1, F.lit(0))),
            F.try_element_at(maps, F.lit(1)),
            lambda acc, m: F.map_zip_with(acc, m, merge))
        if as_map:
            return merged
        keys = F.array_sort(F.map_keys(merged))
        return F.struct(
            keys.alias("_1"),
            F.transform(keys,
                        lambda kk: F.element_at(merged, kk)).alias("_2"))
    return agg


@_typed
def _sum_map_filtered(keep, k, v, arg_type=_untyped) -> Column:
    """sumMapFiltered(keys_to_keep)(keys, values): sumMap over the listed
    keys only — each row's arrays are filtered first."""
    if not isinstance(keep, Column):
        keep = F.array(*[F.lit(x) for x in keep])
    pairs = F.zip_with(_c(k), _c(v),
                       lambda a, b: F.struct(a.alias("k"), b.alias("v")))
    flt = F.filter(pairs, lambda p: F.array_contains(keep, p.k))
    return AGGREGATES["sumMap"](F.transform(flt, lambda p: p.k),
                                F.transform(flt, lambda p: p.v),
                                arg_type=lambda i: arg_type(i + 1))


AGGREGATES.update({
    "sumMap": _map_fold(lambda a, b: a + b, widen_ints=True),
    "minMap": _map_fold(F.least),
    "maxMap": _map_fold(F.greatest),
    "sumMapFiltered": _sum_map_filtered,
})


# --- rank-based tests (collect + HOF ranks; O(n²) inside the group) --------
#
# Ranks need cross-element comparisons, so the state is the collected
# group (same as CH, whose implementations also buffer the samples —
# e.g. its mannWhitneyUTest keeps both samples in memory). The rank of
# x is count(y < x) + (count(y == x)+1)/2 — average rank under ties —
# computed with JVM HOFs over the collected array, never in Python.

def _mann_whitney_u_test(v, idx) -> Column:
    import math

    from .registry import _erf
    arr = F.collect_list(F.struct(_c(v).cast("double").alias("v"),
                                  _c(idx).cast("int").alias("g")))
    vs = F.transform(arr, lambda e: e["v"])

    def rank(x):
        return (F.size(F.filter(vs, lambda y: y < x)).cast("double")
                + (F.size(F.filter(vs, lambda y: y == x)) + 1)
                .cast("double") / 2.0)

    r0 = F.aggregate(arr, F.lit(0.0),
                     lambda acc, e: acc + F.when(e["g"] == 0,
                                                 rank(e["v"]))
                     .otherwise(F.lit(0.0)))
    n0 = F.size(F.filter(arr, lambda e: e["g"] == 0)).cast("double")
    n1 = F.size(arr).cast("double") - n0
    u = r0 - n0 * (n0 + 1.0) / 2.0        # U of the first sample
    z = (u - n0 * n1 / 2.0) / F.sqrt(n0 * n1 * (n0 + n1 + 1.0) / 12.0)
    p = 1.0 - _erf(F.abs(z) / F.lit(math.sqrt(2.0)))
    return F.struct(u.alias("u_statistic"), p.alias("p_value"))


def _rank_corr(x, y) -> Column:
    arr = F.collect_list(F.struct(_c(x).cast("double").alias("x"),
                                  _c(y).cast("double").alias("y")))
    xs = F.transform(arr, lambda e: e["x"])
    ys = F.transform(arr, lambda e: e["y"])

    def ranks(vals):
        return F.transform(vals, lambda v: (
            F.size(F.filter(vals, lambda w: w < v)).cast("double")
            + (F.size(F.filter(vals, lambda w: w == v)) + 1)
            .cast("double") / 2.0))

    rx, ry = ranks(xs), ranks(ys)
    n = F.size(arr).cast("double")

    def asum(a):
        return F.aggregate(a, F.lit(0.0), lambda acc, t: acc + t)

    sx, sy = asum(rx), asum(ry)
    sxy = asum(F.zip_with(rx, ry, lambda a, b: a * b))
    sxx = asum(F.transform(rx, lambda a: a * a))
    syy = asum(F.transform(ry, lambda a: a * a))
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return num / den


AGGREGATES.update({
    "mannWhitneyUTest": _mann_whitney_u_test,
    "rankCorr": _rank_corr,
})


# --- categorical association (cramersV / contingency / theilsU) ------------
#
# Cross-tabulation stats need the joint frequency table; the state is
# the collected group (bounded by group size — categorical analytics
# shape), counts computed with nested JVM HOFs over the distinct
# categories, O(|A|·|B|·n) inside the row, no Python.

def _cat_pairs(a, b):
    return F.collect_list(F.struct(_c(a).cast("string").alias("a"),
                                   _c(b).cast("string").alias("b")))


def _chi2_n(arr):
    n = F.size(arr).cast("double")
    da = F.array_distinct(F.transform(arr, lambda e: e["a"]))
    db = F.array_distinct(F.transform(arr, lambda e: e["b"]))

    def cnt(pred):
        return F.size(F.filter(arr, pred)).cast("double")

    chi2 = F.aggregate(da, F.lit(0.0), lambda acc, x: acc + F.aggregate(
        db, F.lit(0.0), lambda acc2, y: acc2 + (
            lambda o, e: (o - e) * (o - e) / e)(
            cnt(lambda r: (r["a"] == x) & (r["b"] == y)),
            cnt(lambda r: r["a"] == x) * cnt(lambda r: r["b"] == y) / n)))
    return chi2, n, F.size(da).cast("double"), F.size(db).cast("double")


def _cramers_v(a, b, corrected: bool = False) -> Column:
    arr = _cat_pairs(a, b)
    chi2, n, ka, kb = _chi2_n(arr)
    phi2 = chi2 / n
    if corrected:
        # Bergsma's bias correction (public formula)
        phi2 = F.greatest(F.lit(0.0),
                          phi2 - (ka - 1.0) * (kb - 1.0) / (n - 1.0))
        ka = ka - (ka - 1.0) * (ka - 1.0) / (n - 1.0)
        kb = kb - (kb - 1.0) * (kb - 1.0) / (n - 1.0)
    return F.sqrt(phi2 / F.least(ka - 1.0, kb - 1.0))


def _contingency(a, b) -> Column:
    arr = _cat_pairs(a, b)
    chi2, n, _ka, _kb = _chi2_n(arr)
    return F.sqrt(chi2 / (n + chi2))


def _theils_u(a, b) -> Column:
    """Uncertainty coefficient U(a|b) = (H(a) − H(a|b)) / H(a); base of
    the log cancels."""
    arr = _cat_pairs(a, b)
    n = F.size(arr).cast("double")
    da = F.array_distinct(F.transform(arr, lambda e: e["a"]))
    db = F.array_distinct(F.transform(arr, lambda e: e["b"]))

    def cnt(pred):
        return F.size(F.filter(arr, pred)).cast("double")

    def plogp(p):
        return F.when(p > 0, p * F.log(p)).otherwise(F.lit(0.0))

    h_a = -F.aggregate(da, F.lit(0.0),
                       lambda acc, x: acc + plogp(
                           cnt(lambda r: r["a"] == x) / n))
    h_ab = -F.aggregate(db, F.lit(0.0), lambda acc, y: acc + (
        lambda ny: (ny / n) * F.aggregate(
            da, F.lit(0.0), lambda acc2, x: acc2 + plogp(
                cnt(lambda r: (r["a"] == x) & (r["b"] == y)) / ny)))(
        cnt(lambda r: r["b"] == y)))
    return F.when(h_a > 0, (h_a - h_ab) / h_a).otherwise(F.lit(1.0))


AGGREGATES.update({
    "cramersV": _cramers_v,
    "cramersVBiasCorrected": lambda a, b: _cramers_v(a, b, corrected=True),
    "contingency": _contingency,
    "theilsU": _theils_u,
})


def _ks_test(v, idx) -> Column:
    """kolmogorovSmirnovTest(sample_data, sample_index) → (d_statistic,
    p_value). D = sup |F0 − F1| evaluated at the pooled sample points
    (HOF counts, O(n²) in the group); p-value via the asymptotic
    Kolmogorov distribution Q(λ) = 2 Σ (−1)^{j−1} e^{−2 j² λ²}
    (truncated at 10 terms — public formula, exact-enough beyond tiny
    samples)."""
    arr = F.collect_list(F.struct(_c(v).cast("double").alias("v"),
                                  _c(idx).cast("int").alias("g")))
    n0 = F.size(F.filter(arr, lambda e: e["g"] == 0)).cast("double")
    n1 = F.size(arr).cast("double") - n0

    def cdf(x, which):
        return F.size(F.filter(
            arr, lambda e: (e["g"] == which) & (e["v"] <= x))
        ).cast("double") / (n0 if which == 0 else n1)

    d = F.array_max(F.transform(
        arr, lambda e: F.abs(cdf(e["v"], 0) - cdf(e["v"], 1))))
    lam = d * F.sqrt(n0 * n1 / (n0 + n1))
    p = F.lit(0.0)
    for j in range(1, 11):
        term = 2.0 * F.exp(-2.0 * j * j * lam * lam)
        p = p + (term if j % 2 == 1 else -term)
    p = F.greatest(F.lit(0.0), F.least(F.lit(1.0), p))
    return F.struct(d.alias("d_statistic"), p.alias("p_value"))


AGGREGATES.update({"kolmogorovSmirnovTest": _ks_test})


def _sparkbar(n, x, y=None) -> Column:
    """sparkbar(buckets)(x[, y]): unicode bar chart of the y-sum (or
    row count) over ``buckets`` equal x-ranges — '▂▅▇█…' (public CH
    signature). Collect + HOF folds; glyph level = bucket sum scaled to
    the max bucket, 8 levels, space for empty buckets."""
    n = int(n)
    pair = F.struct(_c(x).cast("double").alias("x"),
                    (_c(y).cast("double") if y is not None
                     else F.lit(1.0)).alias("y"))
    arr = F.collect_list(pair)
    xs = F.transform(arr, lambda e: e["x"])
    mn, mx = F.array_min(xs), F.array_max(xs)
    width = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))

    def bucket_sum(i: int) -> Column:
        lo = mn + width * i / float(n)
        hi = mn + width * (i + 1) / float(n)
        last = i == n - 1
        return F.aggregate(
            arr, F.lit(0.0),
            lambda acc, e: acc + F.when(
                (e["x"] >= lo) & ((e["x"] <= hi) if last
                                  else (e["x"] < hi)), e["y"])
            .otherwise(F.lit(0.0)))

    sums = F.array(*[bucket_sum(i) for i in range(n)])
    peak = F.array_max(sums)
    glyphs = [" ", "▁", "▂", "▃", "▄", "▅", "▆", "▇", "█"]
    bar = F.transform(sums, lambda s: F.element_at(
        F.array(*[F.lit(g) for g in glyphs]),
        (F.when((peak > 0) & (s > 0),
                F.ceil(s * 8.0 / peak)).otherwise(F.lit(0)) + 1)
        .cast("int")))
    return F.array_join(bar, "")


AGGREGATES.update({"sparkbar": _sparkbar, "sparkBar": _sparkbar})


AGGREGATES.update({
    # Kahan-compensated sum (AggregateFunctionSumKahan): sum through
    # DECIMAL(38,18) — exact to 18 fractional digits, which dominates
    # Kahan's error bound for the doc contract (sumKahan(0.1)×10 = 1,
    # where plain double sum gives 0.9999…). Values outside the decimal
    # range (|x| ≥ 1e18, ±inf, NaN) would overflow the cast (ANSI
    # error, or silent NULL-drop with ANSI off), so the group falls
    # back to a plain double sum — which is what the reference computes
    # there anyway (compensation is moot once doubles that large mix).
    # Pure JVM, map-side partial aggregation intact — scales like sum()
    "sumKahan": lambda x: _sum_kahan(_c(x)),
    # type-Nothing aggregate (always NULL)
    "nothing": lambda *a: F.first(F.lit(None)),
    # exactly-one-distinct-value ⇒ that value, else NULL — the aggregate
    # the reference's = ANY/!= ALL rewrites reference
    # (ExpressionListParsers.cpp:237-251)
    "singleValueOrNull": lambda x: F.when(
        F.count_distinct(_c(x)) == 1, F.min(_c(x))),
    # *MappedArrays spellings are the same per-key array merges
    "sumMappedArrays": AGGREGATES["sumMap"],
    "minMappedArrays": AGGREGATES["minMap"],
    "maxMappedArrays": AGGREGATES["maxMap"],
})


def _lttb(n, x, y) -> Column:
    """largestTriangleThreeBuckets(n)(x, y): downsample to n points
    keeping visual shape (Steinarsson's public LTTB algorithm). Points
    sorted by x; first/last always kept; each middle bucket keeps the
    point with the largest triangle area against the previous kept
    point and the next bucket's average — a sequential fold, expressed
    as F.aggregate carrying (prev point, selected array). O(len) per
    group inside the row, no Python."""
    n = int(n)
    pts = F.array_sort(F.collect_list(
        F.struct(_c(x).cast("double").alias("x"),
                 _c(y).cast("double").alias("y"))))
    m = F.size(pts)
    if n <= 2:
        return F.when(m >= 2, F.array(F.element_at(pts, 1),
                                      F.element_at(pts, -1))) \
                .otherwise(pts)
    w = (m - 2).cast("double") / float(n - 2)

    def bucket_slice(i):
        start = (F.floor(i * w) + 2).cast("int")           # 1-based
        stop = (F.floor((i + 1) * w) + 2).cast("int")
        return F.slice(pts, start, F.greatest(stop - start, F.lit(1)))

    def avg_of(sl):
        cnt = F.size(sl).cast("double")
        ax = F.aggregate(sl, F.lit(0.0), lambda a, e: a + e["x"]) / cnt
        ay = F.aggregate(sl, F.lit(0.0), lambda a, e: a + e["y"]) / cnt
        return ax, ay

    def step(acc, i):
        prev = acc["prev"]
        cands = bucket_slice(i)
        nxt = F.when(i < n - 3, bucket_slice(i + 1)) \
            .otherwise(F.array(F.element_at(pts, -1)))
        ax, ay = avg_of(nxt)

        def area(e):
            return F.abs((prev["x"] - ax) * (e["y"] - prev["y"])
                         - (prev["x"] - e["x"]) * (ay - prev["y"]))

        best = F.aggregate(
            cands, F.element_at(cands, 1),
            lambda b, e: F.when(area(e) > area(b), e).otherwise(b))
        return F.struct(best.alias("prev"),
                        F.concat(acc["out"], F.array(best)).alias("out"))

    init = F.struct(
        F.element_at(pts, 1).alias("prev"),
        F.array(F.element_at(pts, 1)).alias("out"))
    folded = F.aggregate(F.sequence(F.lit(0), F.lit(n - 3)), init, step)
    full = F.concat(folded["out"], F.array(F.element_at(pts, -1)))
    return F.when(m <= n, pts).otherwise(full)


AGGREGATES.update({"largestTriangleThreeBuckets": _lttb,
                   "lttb": _lttb})


# --- round-6 breadth tail --------------------------------------------------

def _matrix_agg(pairfn) -> Callable[..., Column]:
    """corrMatrix/covar*Matrix(c1..cN): N×N Array(Array(Float64)) of the
    pairwise statistic — N² built-in aggregates in ONE pass (map-side
    combine preserved; N is the column count, not data-sized)."""
    def g(*cs):
        cols = [_c(c) for c in cs]
        return F.array(*[F.array(*[pairfn(a, b).cast("double")
                                   for b in cols]) for a in cols])
    return g


def _max_intersections_pos(s, e) -> Column:
    """maxIntersectionsPosition: the leftmost interval-start where
    maxIntersections is reached (same +1/-1 sweep, tracking argmax)."""
    events = F.array_sort(F.concat(
        F.collect_list(F.struct(_c(s).cast("double").alias("p"),
                                F.lit(1).alias("d"))),
        F.collect_list(F.struct(_c(e).cast("double").alias("p"),
                                F.lit(-1).alias("d")))))
    return F.aggregate(
        events,
        F.struct(F.lit(0).cast("long").alias("cur"),
                 F.lit(0).cast("long").alias("best"),
                 F.lit(None).cast("double").alias("pos")),
        lambda st, ev: F.struct(
            (st.cur + ev.d).alias("cur"),
            F.greatest(st.best, st.cur + ev.d).alias("best"),
            F.when((ev.d == 1) & (st.cur + 1 > st.best), ev.p)
            .otherwise(st.pos).alias("pos")),
        lambda st: st.pos).cast("bigint")


def _group_array_intersect(x) -> Column:
    """groupArrayIntersect: intersection of all the group's arrays."""
    lst = F.collect_list(_c(x))
    return F.aggregate(
        F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0))),
        F.try_element_at(lst, F.lit(1)),
        lambda acc, a: F.array_intersect(acc, a))


AGGREGATES.update({
    "corrMatrix": _matrix_agg(F.corr),
    "covarSampMatrix": _matrix_agg(F.covar_samp),
    "covarPopMatrix": _matrix_agg(F.covar_pop),
    "maxIntersectionsPosition": _max_intersections_pos,
    "groupArrayIntersect": _group_array_intersect,
    # GK sketch → Spark's approx percentile with the same accuracy knob
    "quantileGK": lambda acc, q, x: F.percentile_approx(
        _c(x), F.lit(float(q)), F.lit(int(acc))),
    "quantilesGK": lambda acc, *a: _levels(1, lambda qs, x: (
        F.percentile_approx(_c(x), F.array(*[F.lit(float(q)) for q in qs]),
                            F.lit(int(acc)))))(*a),
    "quantileInterpolatedWeighted": lambda q, x, w: F.percentile(
        _c(x), F.lit(float(q)), _c(w).cast("long")),
})


# --- result-type rules ------------------------------------------------------

_NAN_EMPTY = re.compile(
    r"(?i)^(avg|var|stddev|covar|corr|skew|kurt|quantile|median|entropy"
    r"|rankCorr|mannWhitney|welchTTest|studentTTest)")


def empty_set_default(name: str, dtype) -> Column | None:
    """CH empty-set result for a keyless aggregate: the result type's
    default value (getLeastSupertype/IDataType::getDefault semantics for
    aggregates without keys) — 0 / '' / false / epoch / [] — with the
    moment family yielding nan (0/0 in Float64). -OrNull keeps NULL,
    -State/-Merge keep their sketch carriers. None = leave as built."""
    low = name.lower()
    if any(low.endswith(sfx) for sfx in
           ("ornull", "state", "merge", "mergestate")):
        return None
    dts = dtype.simpleString()
    if _NAN_EMPTY.match(name) and dts in ("double", "float"):
        # cast: a bare double NaN literal would promote a Float32-typed
        # aggregate (e.g. quantileTDigest) to double via when/otherwise
        return F.lit(float("nan")).cast(dts)
    if dts in ("tinyint", "smallint", "int", "bigint", "float",
               "double") or dts.startswith("decimal"):
        return F.lit(0).cast(dts)
    if dts == "string":
        return F.lit("")
    if dts == "boolean":
        return F.lit(False)
    if dts == "date":
        return F.to_date(F.lit("1970-01-01"))
    if dts.startswith("timestamp"):
        return F.to_timestamp(F.lit("1970-01-01 00:00:00")).cast(dts)
    if dts.startswith("array<"):
        return F.array().cast(dts)
    if dts.startswith("struct<"):
        # tuple results (sumMap, argMin tuple forms): per-field defaults
        fields = []
        for f in dtype.fields:
            fd = empty_set_default("", f.dataType)
            if fd is None:
                return None
            fields.append(fd.alias(f.name))
        return F.struct(*fields)
    if dts.startswith("map<"):
        return F.create_map().cast(dts)
    return None


_WIDEN_SUM = re.compile(
    r"sum(?:If|OrNull|OrDefault)*(?:Array|Distinct|ForEach|ArgMin|ArgMax)"
    r"(?:Array|Distinct|ForEach|ArgMin|ArgMax|If|OrNull|OrDefault)*"
    r"|groupArrayMovingSum|deltaSum")


def widened_sum_type(name: str, arg_type) -> str | None:
    """Sum family over integers yields Int64 (Array(Int64) for the
    array-valued forms), never Float64 (CH NumberTraits). Spark's own
    sum already does; the array kernels (-Array, -Distinct, -ForEach,
    -ArgMin/-ArgMax, moving and delta sums) compute in double (exact below 2^53 —
    documented policy), so their result is cast back when the first
    argument is integral. Returns the Spark cast target or None."""
    if not _WIDEN_SUM.fullmatch(name):
        return None
    at = arg_type(0)
    at = at.simpleString() if at is not None else ""
    elem = at[6:-1] if at.startswith("array<") and at.endswith(">") else at
    if elem not in INT_TYPES:
        return None
    array_valued = name == "groupArrayMovingSum" or "ForEach" in name
    return "array<bigint>" if array_valued else "bigint"

