"""Grouped model-fitting kernels via mapInPandas (SURVEY §2.L / F10).

The reference's heavy per-object science (Rainbow fit + Monte-Carlo + XGBoost
scoring, ``ztf/filter_early_tde_candidates/filter.py:87-218``) runs as a
DRIVER loop over collected candidates — the single worst scaling decision in
the repo. The Spark dual: hash-repartition by objectId + ``mapInPandas`` — the
fit runs where the data lives, every object group of a partition in one
Python call, model artifacts broadcast.

``linfit_per_key`` is the concrete instance used by the correctness harness:
closed-form least squares with EXACT int64 Σ-statistics (numpy integer sums
are associative), bit-identical to the native expression path
(functions/arrays.py) and the SQL oracle. Swap the kernel body for scipy /
XGBoost (import-gated) for the real science; the plumbing is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

LINFIT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("slope", DoubleType()),
        StructField("r2", DoubleType()),
    ]
)


def _round6(x: float) -> float:
    """Half-away-from-zero rounding to 6 decimals — matches SQL round();
    Python's round() is banker's (half-even) and would diverge at exact
    boundaries. Above 2^53/1e6 a double has no 6-decimal resolution, so
    rounding is the identity — return as-is instead of overflowing the
    *1e6 scale-up (diverged-but-finite fits like exp(700) hit this)."""
    import math

    ax = abs(x)
    if ax >= 9007199254740992e-6:  # 2**53 / 1e6
        return x
    s = -1.0 if x < 0 else 1.0
    return s * math.floor(ax * 1e6 + 0.5) / 1e6


def _linfit_kernel_many(batches, key: str, x_col: str, y_col: str):
    """Vectorized multi-group kernel: Σ-statistics for EVERY key in the
    partition via pandas groupby (C-speed), exact int64 math and the
    half-away rounding of ``_round6``.

    Arrow feeds a partition as MULTIPLE batches (maxRecordsPerBatch,
    default 10k), and a key's rows can span batch boundaries — so partial
    Σ-stats are accumulated per batch and merged once at the end
    (associative int64 sums; emitting per batch would duplicate keys the
    moment a partition outgrows one batch)."""
    import numpy as np
    import pandas as pd

    partials = []
    for pdf in batches:
        if len(pdf) == 0:
            continue
        g = pdf.assign(
            __x=pdf[x_col].astype("int64"),
            __y=pdf[y_col].astype("int64"),
        )
        g["__xx"] = g["__x"] * g["__x"]
        g["__xy"] = g["__x"] * g["__y"]
        g["__yy"] = g["__y"] * g["__y"]
        partials.append(
            g.groupby(key, sort=False).agg(
                n=(key, "size"), sx=("__x", "sum"), sy=("__y", "sum"),
                sxx=("__xx", "sum"), sxy=("__xy", "sum"), syy=("__yy", "sum"),
            )
        )
    if not partials:
        return
    s = partials[0] if len(partials) == 1 else (
        pd.concat(partials).groupby(level=0, sort=False).sum()
    )
    n = s["n"].to_numpy(dtype=np.int64)
    sx, sy = s["sx"].to_numpy(np.int64), s["sy"].to_numpy(np.int64)
    den_x = n * s["sxx"].to_numpy(np.int64) - sx * sx
    den_y = n * s["syy"].to_numpy(np.int64) - sy * sy
    cov = n * s["sxy"].to_numpy(np.int64) - sx * sy

    def _r6(v):
        # identity above 2^53/1e6 — same cutoff as _round6: diverged
        # (huge-slope) fits have no 6-decimal resolution under *1e6
        out = np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5) / 1e6
        return np.where(np.abs(v) >= 9007199254740992e-6, v, out)

    with np.errstate(divide="ignore", invalid="ignore"):
        slope = np.where(den_x != 0, _r6(cov.astype(np.float64) / den_x.astype(np.float64)), np.nan)
        r2 = np.where(
            (den_x != 0) & (den_y != 0),
            _r6(cov.astype(np.float64) * cov.astype(np.float64)
                / (den_x.astype(np.float64) * den_y.astype(np.float64))),
            np.nan,
        )
    # degenerate fits must surface as NULL (not NaN) — nullable Float64
    # extension arrays map to Arrow nulls; plain float NaN would not
    yield pd.DataFrame(
        {
            key: s.index.to_numpy(),
            "n": n,
            "slope": pd.array(slope, dtype="Float64").to_numpy(
                dtype=object, na_value=None
            ) if np.isnan(slope).any() else slope,
            "r2": pd.array(r2, dtype="Float64").to_numpy(
                dtype=object, na_value=None
            ) if np.isnan(r2).any() else r2,
        }
    )


def linfit_per_key(
    df: DataFrame,
    key: str = "user_id",
    x_col: str = "xh",
    y_col: str = "v",
) -> DataFrame:
    """Per-key closed-form least squares as a grouped pandas kernel.

    Hash-repartition by key + ``mapInPandas`` — ONE Python call per
    partition, all groups in it reduced by a vectorized pandas groupby
    over exact int64 Σ-statistics.
    """
    from pyspark.sql.types import StructField, StructType

    # internal column names keep the kernel independent of the caller's
    # x/y names; the output key keeps the caller's name/type
    cols = df.select(
        F.col(key), F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    )
    schema = StructType(
        [StructField(key, df.schema[key].dataType)] + list(LINFIT_SCHEMA)[1:]
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    return cols.repartition(par, key).mapInPandas(
        lambda it: _linfit_kernel_many(it, key, "__x", "__y"), schema
    )


# --------------------------------------------------------------------------
# Rainbow-shape parametric light-curve fit (pure numpy, deterministic)
# --------------------------------------------------------------------------
#
# The reference fits a rising-sigmoid bolometric light curve with a
# constant-temperature blackbody spectral shape (RainbowFit.from_angstrom(
# band_wave_aa, with_baseline=False, temperature="constant",
# bolometric="sigmoid"), reference ztf/filter_early_tde_candidates/
# lcs.py:272-326) and draws Monte-Carlo parameter samples from the fit
# covariance for downstream classifier scoring (filter.py:158-218). It runs
# that fit in a DRIVER loop per candidate; here the identical math runs as
# a grouped Arrow kernel — the fit happens where the data lives.
#
# Model (single band):      m(t) = A * s((t - t0) / tau)
# Model (multi band):       m(t, b) = A * w(T, lambda_b) * s((t - t0) / tau)
# with s the logistic sigmoid and w the blackbody flux ratio
# B(lambda_b, T) / B(lambda_ref, T), B(l, T) ~ l^-5 / (exp(hc/(l k T)) - 1).
#
# Fitting: weighted Levenberg-Marquardt on p = (t0, ln A, ln tau[, ln T])
# (log-params enforce positivity, as the reference's rejection sampling
# effectively does), data-driven deterministic initialization, fixed
# iteration/tolerance budget — bit-reproducible on the same data.

HC_OVER_K_AA = 1.4387769e8  # hc / k_B in Angstrom * Kelvin


def _sigmoid(z):
    import numpy as np

    out = np.empty_like(z)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    ez = np.exp(z[~pos])
    out[~pos] = ez / (1.0 + ez)
    return out


def _bb_ratio(lam, ln_t, lam_ref):
    """Blackbody flux ratio B(lam, T)/B(lam_ref, T) and its d/dlnT."""
    import numpy as np

    t = np.exp(ln_t)
    xb = HC_OVER_K_AA / (lam * t)
    xr = HC_OVER_K_AA / (lam_ref * t)
    # expm1 keeps precision for small x (hot/blue limit)
    ratio = (lam_ref / lam) ** 5 * np.expm1(xr) / np.expm1(xb)

    def _dln(x):
        return x * np.exp(x) / np.expm1(x)

    dln_dlnt = _dln(xb) - _dln(xr)
    return ratio, ratio * dln_dlnt


def rainbow_model(t, p, lam=None, lam_ref=None):
    """Model value + Jacobian columns at params p = (t0, lnA, lntau[, lnT])."""
    import numpy as np

    t0, ln_a, ln_tau = p[0], p[1], p[2]
    # inf/nan intermediates happen transiently when LM probes a divergent
    # step; the step is then rejected on the non-finite cost, so the
    # warnings are noise
    with np.errstate(all="ignore"):
        tau = np.exp(ln_tau)
        z = (t - t0) / tau
        s = _sigmoid(z)
        sp = s * (1.0 - s)
        amp = np.exp(ln_a)
        if lam is None:
            w, dw = 1.0, None
        else:
            w, dw = _bb_ratio(lam, p[3], lam_ref)
        m = amp * w * s
        cols = [
            amp * w * sp * (-1.0 / tau),  # d/dt0
            m,                            # d/dlnA
            amp * w * sp * (-z),          # d/dlntau
        ]
        if lam is not None:
            cols.append(amp * dw * s)     # d/dlnT
        return m, np.column_stack(cols)


def _lm_fit(t, y, wgt, p0, lam_arr=None, lam_ref=None, max_iter=60):
    """Deterministic damped Gauss-Newton (Levenberg-Marquardt).

    Returns (p, cov, chisq) or None if the normal equations degenerate.
    cov is the parameter covariance sigma^2 * (J^T W J)^-1 with
    sigma^2 = chi^2 / (n - k) (the standard WLS estimate)."""
    import numpy as np

    np_err = np.seterr(all="ignore")  # divergent probe steps; see rainbow_model
    try:
        return _lm_fit_inner(t, y, wgt, p0, lam_arr, lam_ref, max_iter)
    finally:
        np.seterr(**np_err)


def _lm_fit_inner(t, y, wgt, p0, lam_arr, lam_ref, max_iter):
    import numpy as np

    p = np.asarray(p0, dtype=np.float64)
    k = len(p)
    m, jac = rainbow_model(t, p, lam_arr, lam_ref)
    r = y - m
    cost = float((wgt * r * r).sum())
    damp = 1e-3
    for _ in range(max_iter):
        jw = jac * wgt[:, None]
        a = jac.T @ jw
        g = jw.T @ r
        improved = False
        for _ in range(12):
            try:
                step = np.linalg.solve(
                    a + damp * np.diag(np.diag(a)) + 1e-12 * np.eye(k), g
                )
            except np.linalg.LinAlgError:
                return None
            p1 = p + step
            m1, jac1 = rainbow_model(t, p1, lam_arr, lam_ref)
            r1 = y - m1
            c1 = float((wgt * r1 * r1).sum())
            if np.isfinite(c1) and c1 <= cost:
                rel = abs(cost - c1) / max(cost, 1e-300)
                p, m, jac, r, cost = p1, m1, jac1, r1, c1
                damp = max(damp * 0.3, 1e-12)
                improved = True
                if rel < 1e-12:
                    return _lm_result(t, p, jac, wgt, cost, k)
                break
            damp *= 10.0
            if damp > 1e12:
                return _lm_result(t, p, jac, wgt, cost, k)
        if not improved:
            break
    return _lm_result(t, p, jac, wgt, cost, k)


def _lm_result(t, p, jac, wgt, cost, k):
    import numpy as np

    n = len(t)
    dof = max(n - k, 1)
    try:
        cov = np.linalg.inv(jac.T @ (jac * wgt[:, None])) * (cost / dof)
    except np.linalg.LinAlgError:
        cov = None
    return p, cov, cost / dof


def rainbow_fit_arrays(t, y, sigma=None, band_wave_aa=None, bands=None):
    """Fit one light curve; returns a dict of params / errors / r_chisq or
    None when the fit is impossible (too few points, non-positive peak).

    ``band_wave_aa``: {band_name: wavelength_AA} enables the
    constant-temperature multiband model (reference band_wave_aa map);
    ``bands`` is then the per-point band array.
    """
    import numpy as np

    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    multiband = band_wave_aa is not None and bands is not None
    k = 4 if multiband else 3
    good = np.isfinite(t) & np.isfinite(y)
    if sigma is not None:
        sigma = np.asarray(sigma, dtype=np.float64)
        good &= np.isfinite(sigma) & (sigma > 0)
    t, y = t[good], y[good]
    if multiband:
        bands = np.asarray(bands, dtype=object)[good]
        lam_arr = np.array([band_wave_aa.get(b, np.nan) for b in bands])
        lam_ok = np.isfinite(lam_arr)
        t, y, lam_arr = t[lam_ok], y[lam_ok], lam_arr[lam_ok]
        lam_ref = float(np.median(np.array(sorted(band_wave_aa.values()))))
    else:
        lam_arr, lam_ref = None, None
    if len(t) < k + 1:
        return None
    wgt = (
        1.0 / np.maximum(sigma[good], 1e-300) ** 2
        if sigma is not None
        else np.ones_like(y)
    )
    if sigma is not None and multiband:
        wgt = wgt[lam_ok]
    # deterministic data-driven init
    a0 = float(np.max(y))
    if a0 <= 0:
        return None
    order = np.argsort(t, kind="stable")
    ts, ys = t[order], y[order]
    half = np.nonzero(ys >= a0 / 2.0)[0]
    t0_0 = float(ts[half[0]]) if len(half) else float(ts[len(ts) // 2])
    span = float(ts[-1] - ts[0])
    tau0 = span / 10.0 if span > 0 else 1.0
    p0 = [t0_0, np.log(a0), np.log(tau0)] + ([np.log(1e4)] if multiband else [])
    res = _lm_fit(t, y, wgt, p0, lam_arr, lam_ref)
    if res is None:
        return None
    p, cov, r_chisq = res
    if not np.all(np.isfinite(p)):
        return None
    with np.errstate(over="ignore"):  # diverged fit -> inf, NULLed downstream
        amp, tau = float(np.exp(p[1])), float(np.exp(p[2]))
    out = {
        "n": int(len(t)),
        "reference_time": float(p[0]),
        "amplitude": amp,
        "rise_time": tau,
        "r_chisq": float(r_chisq),
        "params": p,
        "cov": cov,
    }
    if multiband:
        out["temperature"] = float(np.exp(p[3]))
    if cov is not None and np.all(np.isfinite(cov)):
        err = np.sqrt(np.maximum(np.diag(cov), 0.0))
        out["e_reference_time"] = float(err[0])
        # delta method: e_X = X * e_lnX for log-parameterized params
        out["e_amplitude"] = amp * float(err[1])
        out["e_rise_time"] = tau * float(err[2])
        if multiband:
            out["e_temperature"] = out["temperature"] * float(err[3])
    return out


def mc_param_samples(fit: dict, nsamples: int, seed: int):
    """Deterministic Monte-Carlo parameter draws from the fit covariance —
    the reference's rejection-sampled multivariate_normal (filter.py:
    158-218) with an explicit per-key seed so distributed runs reproduce.
    Sampling happens in the log-parameter space, so the reference's
    'amplitude < 0 -> reject' rule holds by construction. Returns an array
    (nsamples, k) of NATURAL-space samples (t0, A, tau[, T])."""
    import numpy as np

    cov = fit.get("cov")
    if cov is None or not np.all(np.isfinite(cov)) or not np.all(
        np.isfinite(fit["params"])
    ):
        return None
    rng = np.random.default_rng(seed)
    try:
        import warnings

        with warnings.catch_warnings():
            # near-singular LM covariances trip numpy's PSD warning; the
            # draw itself still succeeds deterministically (svd method) —
            # same benign class as the exp-overflow silenced below
            warnings.filterwarnings(
                "ignore", message="covariance is not symmetric positive"
            )
            draws = rng.multivariate_normal(fit["params"], cov, size=nsamples)
    except np.linalg.LinAlgError:  # diverged fit: cov not factorizable
        return None
    out = draws.copy()
    with np.errstate(over="ignore"):  # extreme draws -> inf, masked by scorer
        out[:, 1:] = np.exp(draws[:, 1:])
    return out


RAINBOW_MC_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("amplitude", DoubleType()),
        StructField("rise_time", DoubleType()),
        StructField("r_chisq", DoubleType()),
        StructField("best_score", DoubleType()),
        StructField("frac_scores", DoubleType()),
        StructField("valid", BooleanType()),
    ]
)


def grouped_arrays_map(
    df: DataFrame,
    key: str,
    value_cols: list[str],
    fn_one,
    out_cols: list[str],
    schema,
) -> DataFrame:
    """Per-key kernel runner for heavy-group numeric kernels.

    ``fn_one(uid, *arrays) -> tuple`` produces one output row per key from
    that key's column arrays. Hash-repartition by key + ``mapInPandas``,
    groups split out with one numpy argsort per Arrow batch and
    accumulated ACROSS batches (a partition arrives as multiple ~10k-row
    batches and a key's rows span them — reducing per batch would
    duplicate keys), then one Python loop per task. This avoids
    ``applyInPandas``'s per-group call + frame overhead, which dominates
    when groups are small and many.

    Each group's arrays are put in CANONICAL (lexicographic) order before
    ``fn_one`` sees them: rows arrive in shuffle order, which varies with
    partitioning/retries/AQE, and iterative kernels accumulate floats in
    array order — without the sort a re-run could flip a borderline fit
    by one ulp (DESIGN.md: reproducibility IS a correctness feature)."""

    def _canon(arrays):
        import numpy as np

        if not arrays or not len(arrays[0]):
            return arrays
        # lexsort's LAST key is primary: reverse so value_cols[0] leads
        order = np.lexsort(tuple(reversed(arrays)))
        return [a[order] for a in arrays]

    def kernel_many(batches):
        import numpy as np
        import pandas as pd

        acc: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf[key].to_numpy()
            order = np.argsort(keys, kind="stable")
            ks = keys[order]
            vals = [pdf[c].to_numpy()[order] for c in value_cols]
            cuts = np.nonzero(ks[1:] != ks[:-1])[0] + 1
            group_ids = np.concatenate([[ks[0]], ks[cuts]])
            splits = [np.split(v, cuts) for v in vals]
            for gi, kid in enumerate(group_ids):
                e = acc.setdefault(int(kid), tuple([] for _ in value_cols))
                for ci in range(len(value_cols)):
                    e[ci].append(splits[ci][gi])
        if not acc:
            return
        rows = [
            fn_one(
                uid,
                *_canon([
                    chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
                    for chunks in parts
                ]),
            )
            for uid, parts in acc.items()
        ]
        yield pd.DataFrame(rows, columns=out_cols)

    cols = df.select(key, *value_cols)
    par = df.sparkSession.sparkContext.defaultParallelism
    return cols.repartition(par, key).mapInPandas(kernel_many, schema)


MULTIBAND_FIT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("t0", DoubleType()),
        StructField("amplitude", DoubleType()),
        StructField("rise_time", DoubleType()),
        StructField("temperature", DoubleType()),
        StructField("r_chisq", DoubleType()),
    ]
)

_MULTIBAND_COLS = ["user_id", "n", "t0", "amplitude", "rise_time",
                   "temperature", "r_chisq"]


def rainbow_multiband_fit_per_key(
    df: DataFrame,
    band_wave_aa: dict[str, float],
    key: str = "user_id",
    t_col: str = "xh",
    y_col: str = "v",
    band_col: str = "band",
    rebase_div: int | None = None,
) -> DataFrame:
    """Per-key JOINT multiband Rainbow fit: one rising-sigmoid bolometric
    shape shared across bands, scaled per band by a constant-temperature
    blackbody ratio — the reference's actual multiband model
    (``ztf/filter_early_tde_candidates/lcs.py:272-326``, band_wave_aa map).
    4 log-parameterized params (t0, ln A, ln tau, ln T) fitted by the same
    damped Gauss-Newton kernel; points whose band is not in the map are
    dropped inside the kernel. NULL-padded rows for degenerate fits."""
    import math

    def one(uid, t_arr, y_arr, b_arr):
        if rebase_div is not None:
            t_arr = (t_arr - t_arr.min()) // rebase_div
        fit = rainbow_fit_arrays(
            t_arr, y_arr, band_wave_aa=band_wave_aa, bands=b_arr
        )
        if fit is None:
            return (uid, len(t_arr), None, None, None, None, None)

        def r6(x):
            return _round6(x) if x is not None and math.isfinite(x) else None

        return (
            uid,
            fit["n"],
            r6(fit["reference_time"]),
            r6(fit["amplitude"]),
            r6(fit["rise_time"]),
            r6(fit.get("temperature")),
            r6(fit["r_chisq"]),
        )

    return grouped_arrays_map(
        df, key, [t_col, y_col, band_col], one, _MULTIBAND_COLS,
        MULTIBAND_FIT_SCHEMA,
    )


_RAINBOW_MC_COLS = ["user_id", "n", "amplitude", "rise_time", "r_chisq",
                    "best_score", "frac_scores", "valid"]


def rainbow_mc_score_per_key(
    df: DataFrame,
    model,
    key: str = "user_id",
    t_col: str = "xh",
    y_col: str = "v",
    nsamples: int = 64,
    seed: int = 20240814,
    max_r_chisq: float = 10.0,
    min_snr_rise_time: float = 1.5,
    min_frac: float = 0.1,
    rebase_div: int | None = None,
    band_col: str | None = None,
    band_wave_aa: dict | None = None,
    feature_names: tuple = ("amplitude", "rise_time"),
) -> DataFrame:
    """The reference's per-candidate loop (fit -> quality cuts -> MC sample
    -> classifier -> best/fraction scores, ``filter.py:158-218``) as ONE
    grouped Arrow kernel with the classifier broadcast.

    Per key: Rainbow-shape sigmoid fit; reference quality cuts
    (``r_chisq > 10`` or ``snr_rise_time < 1.5`` -> invalid); ``nsamples``
    deterministic covariance draws (seed xor key, so every key reproduces
    independently of partitioning); the model scores best fit + samples on
    ``feature_names`` columns; ``frac_scores`` = fraction of samples
    scoring positive (>= 0.5), and the reference's acceptance rule
    (``best positive or frac >= 0.1``) lands in ``valid``.

    ``band_col``/``band_wave_aa`` switch to the constant-temperature
    MULTIBAND Rainbow model (``lcs.py:272-326``), which makes
    ``temperature`` available as a feature. ``feature_names`` selects the
    classifier's feature matrix by name, matching the reference's
    ``pd.DataFrame(res)[clf.feature_names_in_]`` (filter.py:203-205):
    ``amplitude``/``rise_time``/``temperature`` vary per MC draw,
    ``e_reference_time`` is the best-fit covariance error (constant across
    draws). The default matches the packaged ``model_broad.ubj`` contract
    up to its first two features; pass
    ``("e_reference_time", "rise_time", "temperature")`` with the real
    broad model for the reference's exact feature set.

    ``rebase_div``: see ``sigmoid_fit_per_key``.
    """
    bc = df.sparkSession.sparkContext.broadcast(model)
    multiband = band_col is not None and band_wave_aa is not None
    # sample-matrix column per feature (draws are (t0, A, tau[, T]) in
    # natural space); None -> constant best-fit value across draws
    _FEAT_SAMPLE_COL = {"amplitude": 1, "rise_time": 2, "temperature": 3,
                        "e_reference_time": None, "reference_time": 0}
    unknown = [nm for nm in feature_names if nm not in _FEAT_SAMPLE_COL]
    if unknown:
        # fail at the driver with an actionable message, not a KeyError
        # inside an executor kernel. Alert-row features like the nuclear
        # model's 'distnr' are not fit products: join them onto the result
        # and score with operators.ml.predict_proba instead (as the
        # real-curve fixture test does).
        raise ValueError(
            f"rainbow_mc_score_per_key: unknown feature name(s) {unknown}; "
            f"fit-derived features are {sorted(_FEAT_SAMPLE_COL)}"
        )
    if "temperature" in feature_names and not multiband:
        raise ValueError(
            "rainbow_mc_score_per_key: 'temperature' requires the multiband "
            "fit (pass band_col and band_wave_aa)"
        )

    def one(uid, t_arr, y_arr, *rest):
        import math

        import numpy as np

        def row(**kw):
            base = {
                "user_id": uid, "n": len(t_arr), "amplitude": None,
                "rise_time": None, "r_chisq": None, "best_score": None,
                "frac_scores": None, "valid": False,
            }
            base.update(kw)
            return tuple(base[c] for c in _RAINBOW_MC_COLS)

        if rebase_div is not None:
            t_arr = (t_arr - t_arr.min()) // rebase_div
        if multiband:
            fit = rainbow_fit_arrays(t_arr, y_arr, band_wave_aa=band_wave_aa,
                                     bands=rest[0])
        else:
            fit = rainbow_fit_arrays(t_arr, y_arr)
        if fit is None or fit.get("cov") is None:
            return row()
        amp, tau, chisq = fit["amplitude"], fit["rise_time"], fit["r_chisq"]
        if not all(math.isfinite(v) for v in (amp, tau, chisq)):
            return row()
        e_tau = fit.get("e_rise_time")
        snr_tau = abs(tau / e_tau) if e_tau else 0.0
        if chisq > max_r_chisq or snr_tau < min_snr_rise_time:
            return row(amplitude=_round6(amp), rise_time=_round6(tau),
                       r_chisq=_round6(chisq))
        # mask the key to non-negative: default_rng raises on a negative
        # seed, and a negative object id (valid key) would kill the task
        samples = mc_param_samples(fit, nsamples, (seed ^ uid) & 0x7FFFFFFFFFFFFFFF)
        if samples is None:  # cov unsampleable (diverged fit): best-fit only
            samples = np.empty((0, 4 if multiband else 3))
        best_vals = [float(fit.get(nm, np.nan)) for nm in feature_names]
        samp_cols = []
        for nm, bv in zip(feature_names, best_vals):
            ci = _FEAT_SAMPLE_COL[nm]
            if ci is None or ci >= samples.shape[1]:
                samp_cols.append(np.full(len(samples), bv))
            else:
                samp_cols.append(samples[:, ci])
        feats = np.vstack([best_vals,
                           np.column_stack(samp_cols) if len(samples)
                           else np.empty((0, len(feature_names)))])
        ok = np.isfinite(feats).all(axis=1)
        feats = np.where(ok[:, None], feats, 0.0)
        scores = np.asarray(bc.value.predict_proba_batch(feats), dtype=np.float64)
        scores = np.where(ok, scores, 0.0)
        best = float(scores[0])
        # fraction over the MC SAMPLES only (reference semantics); the best
        # fit has its own acceptance branch — mixing it in shifts the
        # fraction by 1/(n+1) and can flip borderline candidates
        frac = float((scores[1:] >= 0.5).mean()) if len(scores) > 1 else None
        accepted = bool(
            best >= 0.5 or (frac is not None and frac >= min_frac)
        )
        return row(
            amplitude=_round6(amp), rise_time=_round6(tau),
            r_chisq=_round6(chisq), best_score=_round6(best),
            frac_scores=None if frac is None else _round6(frac),
            valid=accepted,
        )

    value_cols = [t_col, y_col] + ([band_col] if multiband else [])
    return grouped_arrays_map(
        df, key, value_cols, one, _RAINBOW_MC_COLS, RAINBOW_MC_SCHEMA,
    )


SIGMOID_FIT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("t0", DoubleType()),
        StructField("amplitude", DoubleType()),
        StructField("rise_time", DoubleType()),
        StructField("r_chisq", DoubleType()),
        StructField("snr_rise_time", DoubleType()),
    ]
)


def _sigmoid_fit_one(uid, t_arr, y_arr, rebase_div):
    """Fit one group's arrays; returns one output-row tuple (NULL-padded
    for degenerate/diverged fits — the row count stays stable)."""
    import math

    if rebase_div is not None:
        t_arr = (t_arr - t_arr.min()) // rebase_div
    fit = rainbow_fit_arrays(t_arr, y_arr)
    if fit is None:
        return (uid, len(t_arr), None, None, None, None, None)

    def r6(x):
        # a diverged fit on pathological data can overflow exp() —
        # surface it as NULL, same as a degenerate fit
        return _round6(x) if x is not None and math.isfinite(x) else None

    e_tau = fit.get("e_rise_time")
    snr = (
        abs(fit["rise_time"] / e_tau)
        if e_tau is not None and e_tau > 0 and math.isfinite(fit["rise_time"] / e_tau)
        else None
    )
    return (
        uid,
        fit["n"],
        r6(fit["reference_time"]),
        r6(fit["amplitude"]),
        r6(fit["rise_time"]),
        r6(fit["r_chisq"]),
        r6(snr),
    )


_SIGMOID_COLS = ["user_id", "n", "t0", "amplitude", "rise_time", "r_chisq",
                 "snr_rise_time"]


def sigmoid_fit_per_key(
    df: DataFrame,
    key: str = "user_id",
    t_col: str = "xh",
    y_col: str = "v",
    rebase_div: int | None = None,
) -> DataFrame:
    """Per-key rising-sigmoid fit (the heavy-group counterpart of
    ``linfit_per_key``: one LM fit per key, where the reference loops on
    the driver). Degenerate groups (too few points, non-positive peak,
    singular fit) emit NULL parameters so the row count stays stable.
    snr_rise_time mirrors the reference's ``snr_rise_time < 1.5`` quality
    cut input.

    Runs on ``grouped_arrays_map``: hash-repartition by key +
    ``mapInPandas``, every group of a partition fitted in one Python loop
    per task.

    ``rebase_div``: when set, the kernel rebases the time axis to
    ``(t - min(t)) // rebase_div`` per group — the per-key epoch shift
    rides the SAME shuffle the grouped fit already pays, instead of a
    separate min-aggregate + join (one less shuffle at any scale)."""
    return grouped_arrays_map(
        df,
        key,
        [t_col, y_col],
        lambda uid, t, y: _sigmoid_fit_one(uid, t, y, rebase_div),
        _SIGMOID_COLS,
        SIGMOID_FIT_SCHEMA,
    )
