"""Astronomy scalar functions as pure Catalyst trig expressions.

The reference computes these with astropy inside pandas UDFs (galactic
latitude: ``ztf/filter_early_tde_candidates/prefilter.py:56-66``; ecliptic
latitude: ``ztf/livestream/filter_early_kn_candidates/filter.py:325-357``;
angular separation: every crossmatch in SURVEY §2.D). They are closed-form
rotations, so expressing them as native SQL trig keeps them JVM-side and —
critically for the 100 TB crossmatch path — visible to Catalyst for pushdown
and constant folding.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

# Degree<->radian conversion as explicit double literals (NOT F.degrees /
# F.radians: Java's toDegrees computes x*180/pi as two ops while C libm-based
# engines fold the constant — bit-parity with the DuckDB oracle requires one
# multiplication by the same literal on both sides).
_D2R = math.pi / 180.0
_R2D = 180.0 / math.pi

# ICRS -> galactic rotation constants (IAU 1958 north galactic pole, J2000):
# alpha_NGP = 192.85948°, delta_NGP = 27.12825°, l_NCP = 122.93192°.
_RA_NGP = 192.85948 * _D2R
_DEC_NGP = 27.12825 * _D2R
_L_NCP = 122.93192 * _D2R
# Obliquity of the ecliptic (J2000): 23.4392911°.
_ECL_OBL = 23.4392911 * _D2R


def _rad(col) -> Column:
    return (F.col(col) if isinstance(col, str) else col) * F.lit(_D2R)


def sky_sep(ra1, dec1, ra2, dec2) -> Column:
    """Great-circle separation in degrees (haversine — numerically stable for
    small separations, which is the crossmatch regime)."""
    r1, d1, r2, d2 = _rad(ra1), _rad(dec1), _rad(ra2), _rad(dec2)
    sd = F.sin((d2 - d1) / 2)
    sr = F.sin((r2 - r1) / 2)
    h = sd * sd + F.cos(d1) * F.cos(d2) * sr * sr
    return 2 * F.asin(F.least(F.lit(1.0), F.sqrt(h))) * F.lit(_R2D)


def gal_b(ra, dec) -> Column:
    """Galactic latitude b in degrees from ICRS ra/dec (degrees).

    sin(b) = sin(dec_G)·sin(dec) + cos(dec_G)·cos(dec)·cos(ra − ra_G)
    """
    r, d = _rad(ra), _rad(dec)
    sinb = (
        F.lit(math.sin(_DEC_NGP)) * F.sin(d)
        + F.lit(math.cos(_DEC_NGP)) * F.cos(d) * F.cos(r - F.lit(_RA_NGP))
    )
    return F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), sinb))) * F.lit(_R2D)


def gal_l(ra, dec) -> Column:
    """Galactic longitude l in degrees, [0, 360), from ICRS ra/dec
    (degrees) — the spherical-triangle companion of :func:`gal_b`
    (the reference reads both from astropy's ``gal.l/gal.b`` in the
    anomaly notification templates, ``filter_anomaly_notification/
    filter.py:203``):

        cos(b)·sin(l_NCP − l) = cos(dec)·sin(ra − ra_G)
        cos(b)·cos(l_NCP − l) = sin(dec)·cos(dec_G)
                                − cos(dec)·sin(dec_G)·cos(ra − ra_G)
    """
    r, d = _rad(ra), _rad(dec)
    dra = r - F.lit(_RA_NGP)
    y = F.cos(d) * F.sin(dra)
    x = (
        F.sin(d) * F.lit(math.cos(_DEC_NGP))
        - F.cos(d) * F.lit(math.sin(_DEC_NGP)) * F.cos(dra)
    )
    l_deg = (F.lit(_L_NCP) - F.atan2(y, x)) * F.lit(_R2D)
    return F.pmod(l_deg, F.lit(360.0))


def ecl_lat(ra, dec) -> Column:
    """Ecliptic latitude in degrees from ICRS ra/dec (degrees).

    sin(beta) = sin(dec)·cos(eps) − cos(dec)·sin(eps)·sin(ra)
    """
    r, d = _rad(ra), _rad(dec)
    sinb = F.sin(d) * F.lit(math.cos(_ECL_OBL)) - F.cos(d) * F.lit(math.sin(_ECL_OBL)) * F.sin(r)
    return F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), sinb))) * F.lit(_R2D)


def mag2fluxcal(mag, magerr=None):
    """Magnitude -> calibrated flux (reference ``prefilter.py:153-166``):
    flux = 10**(−(mag − 25)/2.5) · 1000  [micro-Jy-ish units]."""
    f = F.pow(F.lit(10.0), -((F.col(mag) if isinstance(mag, str) else mag) - 25.0) / 2.5) * 1000.0
    if magerr is None:
        return f
    e = (F.col(magerr) if isinstance(magerr, str) else magerr) / 1.0857362047581294 * f
    return f, e


def flux2mag(flux, zeropoint: float = 31.4) -> Column:
    """Flux (nJy) -> apparent AB magnitude (reference ``rubin/utils.py:193-212``,
    ZP=31.4): m = −2.5·log10(flux) + ZP."""
    f = F.col(flux) if isinstance(flux, str) else flux
    return F.lit(-2.5) * F.log10(f) + F.lit(zeropoint)


def dc_mag(magpsf, sigmapsf, magnr, sigmagnr, isdiffpos) -> Column:
    """DC (direct-current) magnitude combining difference + reference flux
    (fink-utils ``dc_mag``, used at reference
    ``ztf/livestream/filter_kn_candidates/filter.py:242-251``). Sign of the
    difference flux follows ``isdiffpos`` ('t'/'1' -> +1 else -1).

    ``sigmapsf``/``sigmagnr`` are accepted but UNUSED here — the signature
    mirrors fink-utils' dc_mag (callers pass the same five columns to this
    and to ``dc_mag_err``, where the errors do participate); this function
    returns the magnitude alone for predicate use.
    """
    m, mr = (F.col(c) if isinstance(c, str) else c for c in (magpsf, magnr))
    sign = F.when((F.col(isdiffpos) if isinstance(isdiffpos, str) else isdiffpos).isin("t", "1"), 1.0).otherwise(-1.0)
    fref = F.pow(F.lit(10.0), -0.4 * mr)
    fdiff = F.pow(F.lit(10.0), -0.4 * m)
    ftot = fref + sign * fdiff
    return F.when(ftot > 0, F.lit(-2.5) * F.log10(ftot))


def dc_mag_err(magpsf, sigmapsf, magnr, sigmagnr, isdiffpos) -> Column:
    """Propagated uncertainty of ``dc_mag`` (the (mag, err) pair fink-utils'
    dc_mag returns): standard first-order propagation in flux space,

        sigma_F = sqrt((F_ref*sigmagnr)^2 + (F_psf*sigmapsf)^2)
        sigma_m = (2.5/ln 10) * sigma_F / F_tot

    NULL when the combined flux is non-positive (same guard as the mag)."""
    m, mr, sp, sr = (
        F.col(c) if isinstance(c, str) else c
        for c in (magpsf, magnr, sigmapsf, sigmagnr)
    )
    sign = F.when(
        (F.col(isdiffpos) if isinstance(isdiffpos, str) else isdiffpos).isin("t", "1"),
        1.0,
    ).otherwise(-1.0)
    fref = F.pow(F.lit(10.0), -0.4 * mr)
    fdiff = F.pow(F.lit(10.0), -0.4 * m)
    ftot = fref + sign * fdiff
    sigma_f = F.sqrt(F.pow(fref * sr, F.lit(2.0)) + F.pow(fdiff * sp, F.lit(2.0)))
    return F.when(ftot > 0, F.lit(2.5 / math.log(10.0)) * sigma_f / ftot)


def grid_cell(ra, dec, cell_deg: float) -> Column:
    """Integer sky-cell id on a (ra, dec) grid of ``cell_deg`` degrees.

    This is the bucketing key for the broadcast cone join (SURVEY §2.D /
    §4.1): both sides are assigned cells; candidates must share a cell with
    the catalog point or one of its 8 neighbors (``neighbor_cells``). A
    HEALPix index would equalize cell areas at the poles; an integer grid has
    identical join semantics and is expressible natively.
    """
    ra_c = (F.col(ra) if isinstance(ra, str) else ra)
    dec_c = (F.col(dec) if isinstance(dec, str) else dec)
    nx = int(math.ceil(360.0 / cell_deg))
    ny = int(math.ceil(180.0 / cell_deg))
    # pmod, NOT %: Spark's % is sign-preserving, so ra just below 0 (the
    # (-180,180] convention, or numeric underflow) would land in a cell the
    # catalog neighbor ring never produces and silently lose its match
    ix = F.pmod(F.floor(ra_c / F.lit(cell_deg)).cast("long"), F.lit(nx))
    # clamp the dec band: dec == +90 exactly would index band ny, one past
    # the catalog ring's clamped ny-1
    iy = F.least(
        F.lit(ny - 1),
        F.greatest(F.lit(0), F.floor((dec_c + 90.0) / F.lit(cell_deg)).cast("long")),
    )
    return iy * nx + ix


def neighbor_cells(ra, dec, cell_deg: float, radius_deg: float | None = None) -> Column:
    """All grid cells that can contain a point within ``radius_deg`` of
    (ra, dec) — the crossmatch explodes this on its smaller side so the
    other side joins on its own ``grid_cell``, a single equality key.

    The dec span is ±ceil(r/cell) cells; the ra span widens with latitude
    (meridians converge): from the haversine identity,
    sin(Δra/2) <= sin(r/2) / cos(|dec|+r), so the ra half-width in degrees is
    2·asin(min(1, sin(r/2)/cos(|dec|+r))), padded one cell for grid
    quantization. Near the pole (cos -> 0) this degrades to the full ring,
    which is the correct fallback.
    """
    ra_c = (F.col(ra) if isinstance(ra, str) else ra)
    dec_c = (F.col(dec) if isinstance(dec, str) else dec)
    r = float(radius_deg if radius_deg is not None else cell_deg)
    nx = int(math.ceil(360.0 / cell_deg))
    ny = int(math.ceil(180.0 / cell_deg))
    ky = int(math.ceil(r / cell_deg))
    ix = F.floor(ra_c / F.lit(cell_deg)).cast("long")
    iy = F.floor((dec_c + 90.0) / F.lit(cell_deg)).cast("long")

    # the cone touches the pole whenever |dec|+r >= 90: force the full-ring
    # fallback THERE (a fixed 89.99 clamp would let tiny radii within
    # ~0.01 deg of the pole skip the ring and miss cross-pole matches)
    worst_dec = F.abs(dec_c) + F.lit(r)
    sin_half = F.when(
        worst_dec >= 90.0, F.lit(1.0)
    ).otherwise(
        F.lit(math.sin(r / 2.0 * _D2R)) / F.cos(worst_dec * F.lit(_D2R))
    )
    ra_half_deg = 2 * F.asin(F.least(F.lit(1.0), sin_half)) * F.lit(_R2D)
    kx = F.least(
        F.lit(nx // 2),
        (F.ceil(ra_half_deg / F.lit(cell_deg)) + 1).cast("long"),
    )

    def _ring(base):
        # factory: the HOF lambda must take exactly one parameter
        # (Spark binds lambda variables by Python signature arity)
        return lambda dx: base + F.pmod(ix + dx, F.lit(nx))

    per_band = []
    for dy in range(-ky, ky + 1):
        jy = F.greatest(F.lit(0), F.least(F.lit(ny - 1), iy + dy))
        per_band.append(F.transform(F.sequence(-kx, kx), _ring(jy * nx)))
    return F.array_distinct(F.flatten(F.array(*per_band)))


def register_sql_functions(spark) -> list[str]:
    """Expose the astro function library on the ``spark.sql`` surface as
    SQL UDFs (Spark 4 ``CREATE FUNCTION ... RETURN <expr>``) — declarative
    function bodies, so Catalyst inlines them into the calling plan exactly
    like the Column-expression forms (still codegen, still foldable; NOT
    Python UDFs). Returns the registered names.

    The reference binds its functions by Python import path
    (``apply_user_defined_filter``); this is the SQL dual: after
    registration, ``spark.sql("SELECT sky_sep(ra, dec, 10.0, 5.0) ...")``
    works anywhere, including views used by downstream SQL-only consumers.
    """
    d2r = repr(_D2R)
    r2d = repr(_R2D)
    defs = {
        "sky_sep": (
            "(ra1 DOUBLE, dec1 DOUBLE, ra2 DOUBLE, dec2 DOUBLE) RETURNS DOUBLE RETURN "
            f"2.0 * asin(least(1.0, sqrt("
            f"sin((dec2 * {d2r} - dec1 * {d2r}) / 2) * sin((dec2 * {d2r} - dec1 * {d2r}) / 2) + "
            f"cos(dec1 * {d2r}) * cos(dec2 * {d2r}) * "
            f"sin((ra2 * {d2r} - ra1 * {d2r}) / 2) * sin((ra2 * {d2r} - ra1 * {d2r}) / 2)"
            f"))) * {r2d}"
        ),
        "gal_b": (
            "(ra DOUBLE, dec DOUBLE) RETURNS DOUBLE RETURN "
            f"asin(greatest(-1.0, least(1.0, "
            f"{repr(math.sin(_DEC_NGP))} * sin(dec * {d2r}) + "
            f"{repr(math.cos(_DEC_NGP))} * cos(dec * {d2r}) * "
            f"cos(ra * {d2r} - {repr(_RA_NGP)})))) * {r2d}"
        ),
        "gal_l": (
            "(ra DOUBLE, dec DOUBLE) RETURNS DOUBLE RETURN "
            f"pmod(({repr(_L_NCP)} - atan2("
            f"cos(dec * {d2r}) * sin(ra * {d2r} - {repr(_RA_NGP)}), "
            f"sin(dec * {d2r}) * {repr(math.cos(_DEC_NGP))} - "
            f"cos(dec * {d2r}) * {repr(math.sin(_DEC_NGP))} * "
            f"cos(ra * {d2r} - {repr(_RA_NGP)}))) * {r2d}, 360.0)"
        ),
        "ecl_lat": (
            "(ra DOUBLE, dec DOUBLE) RETURNS DOUBLE RETURN "
            f"asin(greatest(-1.0, least(1.0, "
            f"sin(dec * {d2r}) * {repr(math.cos(_ECL_OBL))} - "
            f"cos(dec * {d2r}) * {repr(math.sin(_ECL_OBL))} * sin(ra * {d2r})))) * {r2d}"
        ),
        "mag2fluxcal": (
            "(mag DOUBLE) RETURNS DOUBLE RETURN "
            "pow(10.0, -(mag - 25.0) / 2.5) * 1000.0"
        ),
        "flux2mag": (
            "(flux DOUBLE, zeropoint DOUBLE) RETURNS DOUBLE RETURN "
            "-2.5 * log10(flux) + zeropoint"
        ),
        "dc_mag": (
            "(magpsf DOUBLE, sigmapsf DOUBLE, magnr DOUBLE, sigmagnr DOUBLE, "
            "isdiffpos STRING) RETURNS DOUBLE RETURN "
            "CASE WHEN pow(10.0, -0.4 * magnr) + "
            "(CASE WHEN isdiffpos IN ('t', '1') THEN 1.0 ELSE -1.0 END) * "
            "pow(10.0, -0.4 * magpsf) > 0 THEN "
            "-2.5 * log10(pow(10.0, -0.4 * magnr) + "
            "(CASE WHEN isdiffpos IN ('t', '1') THEN 1.0 ELSE -1.0 END) * "
            "pow(10.0, -0.4 * magpsf)) END"
        ),
        "dc_mag_err": (
            "(magpsf DOUBLE, sigmapsf DOUBLE, magnr DOUBLE, sigmagnr DOUBLE, "
            "isdiffpos STRING) RETURNS DOUBLE RETURN "
            "CASE WHEN pow(10.0, -0.4 * magnr) + "
            "(CASE WHEN isdiffpos IN ('t', '1') THEN 1.0 ELSE -1.0 END) * "
            "pow(10.0, -0.4 * magpsf) > 0 THEN "
            f"{2.5 / math.log(10.0)!r} * "
            "sqrt(pow(pow(10.0, -0.4 * magnr) * sigmagnr, 2) + "
            "pow(pow(10.0, -0.4 * magpsf) * sigmapsf, 2)) / "
            "(pow(10.0, -0.4 * magnr) + "
            "(CASE WHEN isdiffpos IN ('t', '1') THEN 1.0 ELSE -1.0 END) * "
            "pow(10.0, -0.4 * magpsf)) END"
        ),
    }
    for name, body in defs.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
    return list(defs)
