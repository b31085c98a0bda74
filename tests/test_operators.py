"""Operator tests: crossmatch vs brute force (incl. polar regression),
top-k, sampling, classification precedence, multimodal decode plumbing."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fink_filters_spark.operators.crossmatch import crossmatch
from fink_filters_spark.operators.sample import hash_sample, uniform_sample
from fink_filters_spark.operators.topk import topk_by_key


def _sep(ra1, dec1, ra2, dec2):
    d2r = math.pi / 180
    sd = math.sin((dec2 - dec1) * d2r / 2)
    sr = math.sin((ra2 - ra1) * d2r / 2)
    h = sd * sd + math.cos(dec1 * d2r) * math.cos(dec2 * d2r) * sr * sr
    return 2 * math.asin(min(1.0, math.sqrt(h))) / d2r


def _random_sky(rng, n, polar_frac=0.3):
    """Random points with a deliberate polar cluster — regression for the
    meridian-convergence bug (ra-cells must widen with 1/cos(dec))."""
    ra = rng.uniform(0, 360, n)
    dec = rng.uniform(-90, 90, n)
    k = int(n * polar_frac)
    dec[:k] = rng.uniform(75, 89.9, k) * rng.choice([-1, 1], k)
    return ra, dec


def test_crossmatch_matches_bruteforce_including_poles(spark):
    rng = np.random.default_rng(11)
    ra, dec = _random_sky(rng, 500)
    cra, cdec = _random_sky(rng, 40)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(500, dtype=np.int64), "ra": ra, "dec": dec})
    )
    cat = spark.createDataFrame(
        pd.DataFrame({"cid": np.arange(40, dtype=np.int64), "cra": cra, "cdec": cdec})
    )
    radius = 3.0
    got = {
        (r.pid, r.cid)
        for r in crossmatch(
            pts, cat, df_id="pid", radius_deg=radius,
            cat_ra="cra", cat_dec="cdec", how="all",
        ).select("pid", "cid").collect()
    }
    want = {
        (p, c)
        for p in range(500)
        for c in range(40)
        if _sep(ra[p], dec[p], cra[c], cdec[c]) < radius
    }
    assert got == want
    assert len(want) > 20  # fixture sanity: polar matches exist


def test_crossmatch_no_broadcast_matches_bruteforce_including_poles(spark):
    """The large x large path (broadcast_catalog=False) shuffles both sides
    on the cell key and explodes the STREAM side's neighbor cells, where
    the broadcast path explodes the smaller side (here the catalog).
    Pair coverage must be direction-free — prove it against brute force on
    the same polar-heavy sky as the broadcast path, plus the RA-wrap /
    dec=+90 edge fixture."""
    rng = np.random.default_rng(11)
    ra, dec = _random_sky(rng, 500)
    cra, cdec = _random_sky(rng, 40)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(500, dtype=np.int64), "ra": ra, "dec": dec})
    )
    cat = spark.createDataFrame(
        pd.DataFrame({"cid": np.arange(40, dtype=np.int64), "cra": cra, "cdec": cdec})
    )
    radius = 3.0
    got = {
        (r.pid, r.cid)
        for r in crossmatch(
            pts, cat, df_id="pid", radius_deg=radius,
            cat_ra="cra", cat_dec="cdec", how="all", broadcast_catalog=False,
        ).select("pid", "cid").collect()
    }
    want = {
        (p, c)
        for p in range(500)
        for c in range(40)
        if _sep(ra[p], dec[p], cra[c], cdec[c]) < radius
    }
    assert got == want
    assert len(want) > 20
    # domain edges: negative ra, dec exactly +90, tiny radius at the pole
    edge_cat = spark.createDataFrame(
        [(100, 359.9999, 0.0), (200, 10.0, 89.995), (300, 200.0, 90.0)],
        "cid long, cat_ra double, cat_dec double",
    )
    edge_stream = spark.createDataFrame(
        [(1, -0.0001, 0.0), (2, 130.0, 89.9995), (3, 20.0, 90.0)],
        "aid long, ra double, dec double",
    )
    pairs = {
        (r.aid, r.cid)
        for r in crossmatch(
            edge_stream, edge_cat, df_id="aid", radius_deg=0.01, cell_deg=1.0,
            how="all", broadcast_catalog=False,
        ).select("aid", "cid").collect()
    }
    assert {(1, 100), (2, 200), (3, 300)} <= pairs


def test_crossmatch_nearest_left_anti_consistency(spark):
    rng = np.random.default_rng(12)
    ra, dec = _random_sky(rng, 300)
    cra, cdec = _random_sky(rng, 30)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(300, dtype=np.int64), "ra": ra, "dec": dec})
    )
    cat = spark.createDataFrame(
        pd.DataFrame({"cid": np.arange(30, dtype=np.int64), "cra": cra, "cdec": cdec})
    )
    nearest = crossmatch(
        pts, cat, df_id="pid", radius_deg=2.0, cat_ra="cra", cat_dec="cdec",
        tiebreak="cid",
    )
    anti = crossmatch(
        pts, cat, df_id="pid", radius_deg=2.0, cat_ra="cra", cat_dec="cdec", how="anti"
    )
    left = crossmatch(
        pts, cat, df_id="pid", radius_deg=2.0, cat_ra="cra", cat_dec="cdec",
        how="left", tiebreak="cid",
    )
    n_matched, n_anti, n_left = nearest.count(), anti.count(), left.count()
    assert n_matched + n_anti == 300  # partition of the stream
    assert n_left == 300  # left keeps everything
    # nearest really is nearest
    for r in nearest.collect():
        seps = [_sep(r.ra, r.dec, cra[c], cdec[c]) for c in range(30)]
        assert abs(min(seps) - r.sep_deg) < 1e-9


def test_crossmatch_variable_radius(spark):
    pts = spark.createDataFrame(
        [(0, 10.0, 0.0), (1, 10.6, 0.0), (2, 14.0, 0.0)], "pid long, ra double, dec double"
    )
    cat = spark.createDataFrame(
        [(0, 10.0, 0.5, 0.3), (1, 14.0, 0.0, 1.0)],
        "cid long, cra double, cdec double, cradius double",
    )
    got = {
        (r.pid, r.cid)
        for r in crossmatch(
            pts, cat, df_id="pid", radius_deg=F.col("cradius"), max_radius_deg=1.0,
            cat_ra="cra", cat_dec="cdec", how="all",
        ).select("pid", "cid").collect()
    }
    # pid0 within 0.5 deg of cat0 (radius .3? sep=0.5 -> no), pid2 exact on cat1
    assert (2, 1) in got
    assert (0, 0) not in got  # sep 0.5 > radius 0.3


def test_topk_by_key(spark):
    df = spark.createDataFrame(
        [(k, i, float((k * 7 + i * 13) % 50)) for k in range(20) for i in range(10)],
        "key long, item long, score double",
    )
    got = topk_by_key(df, "key", "score", k=5, tiebreak="item").collect()
    assert len(got) == 5
    pdf = df.toPandas()
    best = pdf.sort_values(["score", "item"], ascending=[False, True]).groupby("key").first()
    want = best.sort_values("score", ascending=False)["score"].head(5).tolist()
    assert sorted([r.score for r in got], reverse=True) == want


def test_sampling_determinism(spark):
    df = spark.range(0, 10000).withColumnRenamed("id", "key")
    a = {r.key for r in uniform_sample(df, "key", 113).collect()}
    b = {r.key for r in uniform_sample(df, "key", 113).collect()}
    assert a == b
    assert a == {k for k in range(10000) if k % 113 == 0}
    h1 = {r.key for r in hash_sample(df, "key", 0.1).collect()}
    h2 = {r.key for r in hash_sample(df, "key", 0.1).collect()}
    assert h1 == h2
    assert 0.05 < len(h1) / 10000 < 0.2


def test_classify_precedence_and_ambiguity(spark):
    from fink_filters_spark.operators.classify import classify

    df = spark.createDataFrame(
        [
            (0, 10.0, "x"),   # no flags -> Unknown
            (1, 150.0, "x"),  # flag A only
            (2, 250.0, "x"),  # flags A+B -> Ambiguous
            (3, 250.0, "s"),  # override wins over Ambiguous
        ],
        "id long, v double, tag string",
    )
    out = classify(
        df,
        {"A": F.col("v") > 100, "B": F.col("v") > 200},
        override=F.when(F.col("tag") == "s", F.lit("Special")),
    )
    got = {r.id: r["class"] for r in out.collect()}
    assert got == {0: "Unknown", 1: "A", 2: "Ambiguous", 3: "Special"}


def test_multimodal_binary_meta_and_decode(spark):
    from fink_filters_spark.operators.multimodal import binary_meta, decode_image_batch

    png_magic = bytes.fromhex("89504e470d0a1a0a") + b"rest-of-payload"
    df = spark.createDataFrame(
        [(0, bytearray(png_magic)), (1, bytearray(b"plain bytes")), (2, None)],
        "doc_id long, payload binary",
    )
    meta = {r.doc_id: r for r in binary_meta(df, "payload").collect()}
    assert meta[0].media_format == "png"
    assert meta[1].media_format is None
    assert meta[0].media_bytes == len(png_magic)

    feats = {r.doc_id: r for r in decode_image_batch(df, "doc_id", "payload").collect()}
    assert feats[0].status == "ok"
    assert len(feats[0].feature) == 8
    assert abs(sum(feats[0].feature) - 1.0) < 1e-9  # histogram normalized
    assert feats[2].status == "null"


def test_similarity_ivf_search_recall(spark):
    from fink_filters_spark.operators.similarity import ivf_search, knn_bruteforce

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(200, 16)).astype(float)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(200, dtype=np.int64), "embedding": [v.tolist() for v in vecs]}
    )
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    centroids = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    exact = knn_bruteforce(queries, corpus, k=3)
    approx = ivf_search(queries, corpus, centroids, k=3, nprobe=8)
    # with nprobe == n_centroids the probe covers everything -> exact equality
    e = {(r.q_id, r.neighbor_id, r.rank) for r in exact.collect()}
    a = {(r.q_id, r.neighbor_id, r.rank) for r in approx.collect()}
    assert e == a


def test_linfit_per_key_matches_native(spark):
    """applyInPandas fit kernel is bit-identical to the native Σ-expression."""
    import pandas as pd
    from pyspark.sql import functions as F
    from fink_filters_spark.functions.arrays import linfit_r2, linfit_slope
    from fink_filters_spark.operators.fit import linfit_per_key

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {
            "user_id": np.repeat(np.arange(10, dtype=np.int64), 30),
            "xh": rng.integers(0, 5000, 300),
            "v": rng.integers(-10000, 10000, 300),
        }
    )
    df = spark.createDataFrame(pdf)
    grouped = {r.user_id: (r.slope, r.r2) for r in linfit_per_key(df).collect()}
    native = df.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("xh", "v"))).alias("h")
    ).select(
        "user_id",
        F.round(
            linfit_slope(F.transform("h", lambda s: s.xh), F.transform("h", lambda s: s.v)), 6
        ).alias("slope"),
        F.round(
            linfit_r2(F.transform("h", lambda s: s.xh), F.transform("h", lambda s: s.v)), 6
        ).alias("r2"),
    )
    for r in native.collect():
        assert grouped[r.user_id] == (r.slope, r.r2)


def test_salted_join_and_group_match_unsalted(spark):
    from fink_filters_spark.operators.skew import salted_group_count, salted_join

    # skewed big side: key 0 holds half the rows
    big = spark.range(2000).selectExpr("if(id % 2 = 0, 0, id % 50) as k", "id as v")
    small = spark.range(50).selectExpr("id as k", "id * 100 as w")
    plain = big.join(small, "k").selectExpr("k", "v", "w")
    salted = salted_join(big, small, "k", salt=8).selectExpr("k", "v", "w")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    counts = {r.k: r.n for r in salted_group_count(big, "k", salt=8).collect()}
    want = {r.k: r["count"] for r in big.groupBy("k").count().collect()}
    assert counts == want


def test_hist_concat_null_history(spark):
    from fink_filters_spark.functions.arrays import hist_concat

    df = spark.createDataFrame(
        [(None, 5.0), ([1.0, 2.0], 3.0)], "prv array<double>, cur double"
    )
    rows = df.select(hist_concat("prv", "cur").alias("h")).collect()
    assert rows[0]["h"] == [5.0]  # first detection: null history -> [cur]
    assert rows[1]["h"] == [1.0, 2.0, 3.0]


def test_filters_tolerate_null_scores(spark):
    """Null science scores must behave like the reference's NaN comparisons:
    the row is simply not selected (no errors, no accidental selection)."""
    from fink_filters_spark.filters import apply_named_filter

    df = spark.createDataFrame(
        [
            (1, None, None, "Unknown", None, None, 2460000.0, 2459990.0, 5, 0),
            (2, 0.9, 0.9, "AGN", 0.9, 0.9, 2460000.0, 2459990.0, 5, 0),
        ],
        "candid long, snn_snia_vs_nonia double, snn_sn_vs_all double, "
        "cdsxmatch string, drb double, classtar double, jd double, "
        "jdstarthist double, ndethist int, roid int",
    )
    got = {r.candid for r in apply_named_filter(df, "ztf.sn_candidates").collect()}
    assert got == {2}


def test_image_kstest_kernel(spark):
    from fink_filters_spark.operators.multimodal import image_kstest

    uniformish = bytes(range(256)) * 4  # near-uniform byte spread -> small KS
    skewed = bytes([7] * 1024)  # constant -> KS ~ 1
    df = spark.createDataFrame(
        [(0, bytearray(uniformish)), (1, bytearray(skewed)), (2, None)],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r.kstest for r in image_kstest(df, "doc_id", "payload").collect()}
    assert got[0] < 0.01
    assert got[1] > 0.9
    assert got[2] is None
    # hostless-style thresholding works downstream
    assert (got[0] <= 0.5) and not (got[1] <= 0.5)


def test_fits_codec_roundtrip():
    """Pure-numpy FITS codec: write -> parse recovers pixels exactly, for
    float and integer BITPIX, gzipped and raw, 1-D and 2-D shapes."""
    import numpy as np
    from fink_filters_spark.operators.fits import parse_fits, write_fits

    rng = np.random.default_rng(7)
    f32 = rng.normal(100.0, 15.0, size=(63, 63)).astype(np.float32)
    for arr, atol in [
        (f32, 0.0),  # float32 stored as BITPIX -32: exact
        (rng.integers(-30000, 30000, size=(8, 5)).astype(np.int64), 0.0),
        (rng.integers(0, 10**6, size=40).astype(np.int64), 0.0),
    ]:
        for compress in (True, False):
            out, hdr = parse_fits(write_fits(arr, compress=compress))
            assert out.shape == arr.shape
            np.testing.assert_allclose(out, arr.astype(np.float64), atol=atol)
    # deterministic bytes (gzip mtime pinned)
    assert write_fits(f32) == write_fits(f32)
    # header metadata round-trips
    _, hdr = parse_fits(write_fits(f32, compress=True))
    assert hdr["BITPIX"] == -32 and hdr["NAXIS"] == 2
    assert hdr["NAXIS1"] == 63 and hdr["NAXIS2"] == 63


def test_fits_bscale_and_errors():
    import gzip
    import numpy as np
    import pytest as _pytest
    from fink_filters_spark.operators.fits import parse_fits, write_fits

    # hand-build a BSCALE/BZERO header (the FITS unsigned-int convention)
    from fink_filters_spark.operators.fits import _card

    cards = b"".join(
        [
            _card("SIMPLE", True),
            _card("BITPIX", 16),
            _card("NAXIS", 2),
            _card("NAXIS1", 3),
            _card("NAXIS2", 2),
            _card("BSCALE", 2.0),
            _card("BZERO", 10.0),
            b"END".ljust(80),
        ]
    )
    header = cards + b" " * (-len(cards) % 2880)
    data = np.arange(6, dtype=">i2").tobytes()
    patched = header + data + b"\x00" * (-len(data) % 2880)
    raw = write_fits(np.arange(6, dtype=np.int64).reshape(2, 3), compress=False)
    arr, _ = parse_fits(patched)
    np.testing.assert_allclose(arr, np.arange(6).reshape(2, 3) * 2.0 + 10.0)
    with _pytest.raises(ValueError):
        parse_fits(b"NOTFITS" + b" " * 3000)
    with _pytest.raises(ValueError):
        parse_fits(raw[:100])  # truncated header
    with _pytest.raises((OSError, EOFError)):
        parse_fits(b"\x1f\x8b" + b"junk")  # bad gzip stream


def test_sigma_clip_and_lilliefors():
    import numpy as np
    from fink_filters_spark.operators.fits import normal_ks_statistic, sigma_clip

    rng = np.random.default_rng(11)
    x = rng.normal(0, 1, 5000)
    with_outliers = np.concatenate([x, np.full(20, 500.0)])
    clipped = sigma_clip(with_outliers, sigma=3.0)
    assert len(clipped) <= 5000 + 0  # all outliers gone
    assert np.abs(clipped).max() < 10
    # gaussian sample -> small statistic; uniform sample -> visibly larger
    assert normal_ks_statistic(x) < 0.02
    assert normal_ks_statistic(rng.uniform(0, 1, 5000)) > 0.05
    assert normal_ks_statistic(np.array([])) != normal_ks_statistic(np.array([]))  # nan
    assert normal_ks_statistic(np.full(10, 3.0)) == 0.9  # degenerate: 1 - 1/n


def test_stamp_kstest_distributed(spark):
    """Round-trip demanded by the round-3 verdict: synthesize gzipped FITS
    stamps -> distributed decode+clip+KS == the same kernel on raw arrays."""
    import numpy as np
    from fink_filters_spark.operators.fits import (
        normal_ks_statistic,
        sigma_clip,
        write_fits,
    )
    from fink_filters_spark.operators.multimodal import stamp_kstest

    rng = np.random.default_rng(3)
    # host galaxy covering half the stamp: bimodal pixel field, strongly
    # non-normal even after clipping; hostless stamp is pure sky noise
    hostless = rng.normal(50.0, 5.0, (63, 63))
    hosted = hostless.copy()
    hosted[:, :31] += 70.0
    rows = [
        (0, bytearray(write_fits(hostless.astype(np.float32))), bytearray(write_fits(hostless.astype(np.float32)))),
        (1, bytearray(write_fits(hosted.astype(np.float32))), bytearray(write_fits(hosted.astype(np.float32)))),
        (2, None, bytearray(b"not a fits payload at all")),
    ]
    df = spark.createDataFrame(rows, "candid long, sci binary, tmpl binary")
    got = {r.doc_id: r for r in stamp_kstest(df, "candid", "sci", "tmpl").collect()}
    # parity with the local kernel
    for doc_id, arr in [(0, hostless), (1, hosted)]:
        expect = normal_ks_statistic(sigma_clip(arr.astype(np.float32).astype(np.float64)))
        assert got[doc_id].kstest_science == pytest.approx(expect, abs=1e-12)
    # science-frame noise is near-normal; a bright host drives KS up
    assert got[0].kstest_science < 0.05 < got[1].kstest_science
    # undecodable / NULL payloads -> NULL statistic (rejected downstream)
    assert got[2].kstest_science is None and got[2].kstest_template is None


def test_latest_same_band(spark):
    from pyspark.sql import functions as F
    from fink_filters_spark.functions.arrays import latest_same_band

    df = spark.createDataFrame(
        [
            ("g", [("g", 1.0, 10.0), ("r", 2.0, 11.0), ("g", 3.0, 12.0)]),
            ("r", [("g", 1.0, 10.0)]),
        ],
        "band string, prv array<struct<band:string, mjd:double, flux:double>>",
    )
    out = df.select(
        latest_same_band("prv", "band", "mjd", F.col("band")).alias("m")
    ).collect()
    assert out[0]["m"]["mjd"] == 3.0 and out[0]["m"]["flux"] == 12.0
    assert out[1]["m"] is None  # band never seen before


def test_linfit_per_key_exact_and_degenerate_fits(spark):
    """Every key gets one row: an exact line fits exactly, and degenerate
    fits (single point, zero x-variance, zero y-variance) surface as
    NULLs, not NaN."""
    import pandas as pd

    from fink_filters_spark.operators.fit import linfit_per_key

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2, 3, 4, 4, 4, 4],
            "xh": [0, 1, 2, 0, 0, 5, 0, 1, 2, 3],
            "v": [10, 20, 30, 7, 9, 4, 5, 5, 5, 5],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {r.user_id: (r.n, r.slope, r.r2) for r in linfit_per_key(df).collect()}
    assert got == {
        1: (3, 10.0, 1.0),      # exact line
        2: (2, None, None),     # zero x-variance -> NULL fit
        3: (1, None, None),     # single point -> NULL fit
        4: (4, 0.0, None),      # zero y-variance -> NULL r2
    }


def test_similarity_lsh_search_subset_of_exact_ranking(spark):
    """LSH candidates score identically to brute force: every (q, neighbor,
    cosine) LSH emits must appear in the exact all-pairs ranking with the
    same cosine, and a query's rank-1 LSH hit can only improve (never beat
    exact rank-1's score)."""
    from fink_filters_spark.operators.similarity import (
        knn_bruteforce,
        lsh_search,
        sign_planes,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(150, 24)).astype(float)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(150, dtype=np.int64), "embedding": [v.tolist() for v in vecs]}
    )
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    planes = sign_planes(16, 24, seed=0)
    approx = lsh_search(queries, corpus, k=150, planes=planes, band_bits=4)
    exact = knn_bruteforce(queries, corpus, k=150)
    a = {(r.q_id, r.neighbor_id): r.cosine for r in approx.collect()}
    e = {(r.q_id, r.neighbor_id): r.cosine for r in exact.collect()}
    assert a, "LSH returned no candidates"
    for key, cos in a.items():
        assert key in e and abs(e[key] - cos) < 1e-9
    # 4-bit bands x 4 bands on correlated-free gaussians: recall of the
    # exact top-1 should be high; assert the weaker structural invariant
    # that every query found at least one candidate bucket-mate
    assert {k[0] for k in a} == {k[0] for k in e}


def test_lsh_band_signatures_arrow_match_catalyst(spark):
    """The Arrow matmul signature kernel emits the same (id, band, sig)
    rows as the Catalyst reference ``_band_signatures`` over
    ``_quantized`` on the same input (same quantization, same bits), for
    long and string ids."""
    from fink_filters_spark.operators.similarity import (
        _band_signatures,
        _band_signatures_arrow,
        _quantized,
        sign_planes,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(80, 12)).astype(float)
    planes = sign_planes(8, 12, seed=3)
    for ids in (list(range(80)), [f"v-{i}" for i in range(80)]):
        typ = "string" if isinstance(ids[0], str) else "long"
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in zip(ids, vecs)], f"vec_id {typ}, embedding array<double>"
        )
        arrow = _band_signatures_arrow(df, "vec_id", "embedding", planes, 4, "__i")
        native = _band_signatures(
            _quantized(df, "vec_id", "embedding", "__i", "__q", "__n"), "__q", planes, 4
        ).select("__i", "band", "sig")
        assert arrow.schema.simpleString() == native.schema.simpleString()
        got = sorted(map(tuple, arrow.collect()))
        assert len(got) == 80 * 2
        assert got == sorted(map(tuple, native.collect()))


def test_multimodal_frame_sample_resize_audio(spark):
    """Plumbing for the video/image/audio stages: schemas, 1->N frame
    explosion, resize grid math, and audio DSP — deterministic fakes
    stand in for the decoders (none in this container), NumPy ground
    truth computed independently per row."""
    from fink_filters_spark.operators.multimodal import (
        audio_features,
        fake_pcm,
        frame_sample,
        image_resize,
    )

    rng = np.random.default_rng(13)
    payloads = [rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
                for n in (64 * 7 + 3, 64 * 2, 10)]
    pdf = pd.DataFrame({"doc_id": np.arange(3, dtype=np.int64), "media": payloads})
    df = spark.createDataFrame(pdf)

    frames = frame_sample(df, "doc_id", "media", every_n=3).collect()
    # doc0: 7 frames -> kept idx 0,3,6; doc1: 2 frames -> idx 0; doc2: 0 frames
    got = {(r.doc_id, r.frame_idx) for r in frames}
    assert got == {(0, 0), (0, 3), (0, 6), (1, 0)}
    for r in frames:
        start = r.frame_idx * 64
        assert bytes(r.frame) == payloads[r.doc_id][start:start + 64]

    rs = image_resize(df, "doc_id", "media", out_w=4, out_h=4, src_w=8, src_h=8)
    rows = {r.doc_id: r for r in rs.collect()}
    assert rows[0].width == 4 and rows[0].height == 4 and len(bytes(rows[0].pixels)) == 16
    img0 = np.frombuffer(payloads[0][:64], dtype=np.uint8).reshape(8, 8)
    assert bytes(rows[0].pixels) == img0[::2, ::2].tobytes()

    au = {r.doc_id: r for r in audio_features(df, "doc_id", "media").collect()}
    x = fake_pcm(payloads[1])
    assert au[1].n_samples == len(x)
    assert abs(au[1].rms - float(np.sqrt(np.mean(x * x)))) < 1e-9
    assert 0.0 <= au[1].zcr <= 1.0 and au[1].centroid > 0.0


def test_constellation_label_landmarks(spark):
    """Nearest-center constellation labeling hits unambiguous landmarks
    (Voronoi approximation of the IAU boundaries; SURVEY 2.I)."""
    from fink_filters_spark.operators.constellation import (
        CONSTELLATION_CENTERS,
        constellation_label,
    )

    assert len(CONSTELLATION_CENTERS) == 88
    assert len({n for n, _, _ in CONSTELLATION_CENTERS}) == 88
    pts = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "ra": [83.0, 186.0, 230.0, 10.68],   # Orion belt, Crux, pole-ward, M31
            "dec": [2.0, -60.0, 78.0, 41.27],
        }
    )
    out = constellation_label(spark.createDataFrame(pts), id_col="id")
    got = {r.id: r.constellation for r in out.collect()}
    assert got == {1: "Orion", 2: "Crux", 3: "Ursa Minor", 4: "Andromeda"}


def test_precession_matrix_properties():
    """IAU 1976 J2000->B1875 rotation: orthogonal, det=1, and the pole
    displacement equals the theta precession angle (~0.6965 deg for
    t = -1.25 centuries)."""
    from fink_filters_spark.operators.constellation import (
        precession_matrix_j2000_to_b1875,
    )

    m = np.array(precession_matrix_j2000_to_b1875())
    np.testing.assert_allclose(m @ m.T, np.eye(3), atol=1e-12)
    assert np.linalg.det(m) == pytest.approx(1.0, abs=1e-12)
    # J2000 pole mapped into the 1875 frame: angular offset == theta
    pole = m @ np.array([0.0, 0.0, 1.0])
    t = (2405889.25855 - 2451545.0) / 36525.0
    theta_deg = (2004.3109 * t - 0.42665 * t * t - 0.041833 * t**3) / 3600.0
    offset = math.degrees(math.acos(np.clip(pole[2], -1, 1)))
    assert offset == pytest.approx(abs(theta_deg), abs=1e-9)
    # rotation preserves separations: random point pair
    rng = np.random.default_rng(5)
    a, b = rng.normal(size=3), rng.normal(size=3)
    a, b = a / np.linalg.norm(a), b / np.linalg.norm(b)
    before = math.acos(np.clip(a @ b, -1, 1))
    after = math.acos(np.clip((m @ a) @ (m @ b), -1, 1))
    assert after == pytest.approx(before, abs=1e-12)


def test_constellation_exact_first_match_semantics(spark):
    """Roman-1987 lookup machinery on the synthetic demo table: precess to
    B1875, first matching (dec_low, [ra_low, ra_high)) row wins — so the
    polar zone shadows the N-E/N-W zones it overlaps (scan-order
    precedence), and border points fall on the correct side after
    precession (which shifts RA by ~1.7 deg at the equator)."""
    from fink_filters_spark.operators.constellation import constellation_exact

    pts = pd.DataFrame(
        {
            "id": [1, 2, 3, 4, 5],
            # J2000 positions; precession to 1875 shifts RA/dec slightly
            "ra": [10.0, 100.0, 280.0, 10.0, 180.0],
            "dec": [80.0, 30.0, 30.0, -45.0, -0.3],
        }
    )
    out = constellation_exact(spark.createDataFrame(pts), id_col="id")
    got = {r.id: r.constellation for r in out.collect()}
    # 1: dec1875 ~ 79.9 >= 66 -> NPOLAR wins by scan order though NEAST matches too
    # 2: ra 100deg=6.7h -> NEAST;  3: ra 280deg=18.7h -> NWEST;  4: south
    assert got[1] == "NPOLAR" and got[2] == "NEAST" and got[3] == "NWEST"
    assert got[4] == "SOUTH"
    # 5: J2000 (180, -0.3) is SOUTH of the equator, but precessed to B1875
    #    it sits at dec ~ +0.40 (ra ~ 11.9h): the exact path must label it
    #    north-east — a frame-dependence a J2000 Voronoi rule cannot get
    assert got[5] == "NEAST"

    # row count preserved (left join, one label per input row)
    assert out.count() == 5


def test_asof_join_backward_inclusive(spark):
    """asof_join semantics: greatest right_time <= left_time per key,
    inclusive at equal timestamps, null when no predecessor exists."""
    from fink_filters_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1, 2], "t": [5, 2, 1, 9], "lid": [10, 11, 12, 13]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "t": [2, 4, 100], "v": [100, 200, 300]})
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="t", payload=["v"])
    got = {r.lid: r.v for r in out.collect()}
    # t=5 -> right t=4; t=2 -> right t=2 (inclusive); t=1 and k=2 t=9 -> none
    assert got == {10: 200, 11: 100, 12: None, 13: None}
    assert out.columns == ["k", "t", "lid", "v"]


def test_interval_join_inclusive_and_multicell(spark):
    """interval_join: inclusive at both bounds, intervals spanning multiple
    cells still match, non-overlapping points drop."""
    from fink_filters_spark.operators.interval_join import interval_join

    pts = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1, 1], "t": [10, 25, 30, 31], "pid": [1, 2, 3, 4]})
    )
    iv = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "s": [10, 28], "e": [30, 29], "iid": [100, 101]})
    )
    out = interval_join(pts, iv, on="k", point_time="t", start="s", end="e",
                        cell_width=7)
    got = sorted((r.pid, r.iid) for r in out.collect())
    # [10,30] spans cells 1..4 and matches t=10,25,30 inclusively; [28,29] none
    assert got == [(1, 100), (2, 100), (3, 100)]


def test_image_phash_and_banded_hamming_pairs(spark):
    """Identical payloads hash equal (hamming 0); a lightly perturbed copy
    stays within the hamming budget; an unrelated payload does not pair.
    The candidate join is band-exact (no all-pairs scan)."""
    from fink_filters_spark.operators.multimodal import image_phash, phash_pairs

    base = bytes(range(256))
    near = bytearray(base)
    near[10] ^= 0x01  # one-byte wiggle -> few phash bits
    other = bytes((i * 97 + 13) % 251 for i in range(256))
    df = spark.createDataFrame(
        [(1, base), (2, bytes(near)), (3, other), (4, base)],
        "doc_id long, media binary",
    )
    hashes = image_phash(df, "doc_id", "media")
    hv = {r.doc_id: r.phash for r in hashes.collect()}
    assert hv[1] == hv[4]  # determinism: equal payload -> equal hash

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_pairs(hashes, max_hamming=8).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 8
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_observe_quality_metrics_ride_along(spark):
    """Metrics come from the same pass as the action: row count, null
    counts, and domain violations — no second scan job."""
    from pyspark.sql import functions as F

    from fink_filters_spark.operators.observe import observe_quality

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0), (4, None)], "id long, flux double"
    )
    observed, obs = observe_quality(
        df,
        null_cols=["flux"],
        domain_checks={"neg_flux": F.col("flux") < 0},
    )
    assert observed.count() == 4  # the "real job"
    got = obs.get
    assert got["n_rows"] == 4
    assert got["n_null_flux"] == 2
    assert got["n_neg_flux"] == 1


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: a filter that only exists on the dim side
    becomes a runtime partition filter on the partitioned fact scan — at
    100 TB this skips whole partitions, not just row groups."""
    path = str(tmp_path / "fact_dpp")
    spark.range(1000).selectExpr("id", "id % 10 as p").write.partitionBy(
        "p"
    ).parquet(path)
    fact = spark.read.parquet(path)
    # dim key type must MATCH the inferred partition-column type (int) — a
    # cast on the fact's partition attribute defeats DPP; and the dim side
    # needs a filter for the optimizer to consider pruning worthwhile
    dim = spark.createDataFrame(
        [(3, "x"), (7, "y"), (8, "z")], "p int, tag string"
    ).filter("tag != 'z'")
    joined = fact.join(dim, "p")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    assert joined.count() == 200  # partitions 3 and 7 only


# ---------------------------------------------------------------------------
# Rainbow-shape parametric fit (operators/fit.py)
# ---------------------------------------------------------------------------


def _synth_sigmoid(t0=50.0, amp=120.0, tau=8.0, n=60, noise=0.0, seed=7):
    rng = np.random.default_rng(seed)
    t = np.linspace(0.0, 100.0, n)
    y = amp / (1.0 + np.exp(-(t - t0) / tau))
    if noise:
        y = y + rng.normal(0.0, noise, n)
    return t, y


def test_rainbow_fit_recovers_sigmoid_params():
    """Noise-free rising sigmoid: LM must recover (t0, A, tau) to <0.1%."""
    from fink_filters_spark.operators.fit import rainbow_fit_arrays

    t, y = _synth_sigmoid()
    fit = rainbow_fit_arrays(t, y)
    assert fit is not None
    assert abs(fit["reference_time"] - 50.0) < 0.05
    assert abs(fit["amplitude"] - 120.0) / 120.0 < 1e-3
    assert abs(fit["rise_time"] - 8.0) / 8.0 < 1e-3
    assert fit["r_chisq"] < 1e-6


def test_rainbow_fit_noisy_within_errors():
    """With noise, recovered params should sit within ~5 sigma of truth and
    the reported errors should be positive and finite."""
    from fink_filters_spark.operators.fit import rainbow_fit_arrays

    t, y = _synth_sigmoid(noise=3.0)
    fit = rainbow_fit_arrays(t, y)
    assert fit is not None
    for name, truth in (("reference_time", 50.0), ("amplitude", 120.0), ("rise_time", 8.0)):
        err = fit["e_" + name]
        assert err > 0 and np.isfinite(err)
        assert abs(fit[name] - truth) < 5 * err + 1e-9


def test_rainbow_fit_weighted_points_dominate():
    """Tiny-sigma (high-weight) points must pull the fit: corrupt the
    low-weight half and the high-weight half still pins the parameters."""
    from fink_filters_spark.operators.fit import rainbow_fit_arrays

    t, y = _synth_sigmoid()
    sigma = np.where(t < 50.0, 1e-3, 1e3)  # trust only the first half
    y2 = y.copy()
    y2[t >= 50.0] += 40.0  # corrupt the untrusted half
    fit = rainbow_fit_arrays(t, y2, sigma=sigma)
    assert fit is not None
    assert abs(fit["reference_time"] - 50.0) < 1.0


def test_rainbow_fit_multiband_constant_temperature():
    """Multiband constant-T model: per-band blackbody ratios scale a shared
    sigmoid; the joint fit must recover the temperature."""
    from fink_filters_spark.operators.fit import (
        _bb_ratio,
        rainbow_fit_arrays,
    )

    waves = {"g": 4770.0, "r": 6231.0, "i": 7625.0}
    t0, amp, tau, temp = 50.0, 120.0, 8.0, 9000.0
    lam_ref = float(np.median(sorted(waves.values())))
    ts, ys, bs = [], [], []
    for b, lam in waves.items():
        t = np.linspace(0.0, 100.0, 40)
        ratio, _ = _bb_ratio(np.array([lam]), np.log(temp), lam_ref)
        ts.append(t)
        ys.append(amp * float(ratio[0]) / (1.0 + np.exp(-(t - t0) / tau)))
        bs.extend([b] * 40)
    t_all, y_all = np.concatenate(ts), np.concatenate(ys)
    fit = rainbow_fit_arrays(t_all, y_all, band_wave_aa=waves, bands=bs)
    assert fit is not None
    assert abs(fit["temperature"] - temp) / temp < 0.01
    assert abs(fit["amplitude"] - amp) / amp < 0.01
    assert abs(fit["rise_time"] - tau) / tau < 0.01


def test_rainbow_fit_degenerate_inputs():
    from fink_filters_spark.operators.fit import rainbow_fit_arrays

    # too few points
    assert rainbow_fit_arrays([1.0, 2.0], [1.0, 2.0]) is None
    # non-positive peak
    t = np.linspace(0, 10, 20)
    assert rainbow_fit_arrays(t, -np.ones(20)) is None


def test_mc_param_samples_deterministic_and_positive():
    from fink_filters_spark.operators.fit import mc_param_samples, rainbow_fit_arrays

    t, y = _synth_sigmoid(noise=2.0)
    fit = rainbow_fit_arrays(t, y)
    s1 = mc_param_samples(fit, 64, seed=123)
    s2 = mc_param_samples(fit, 64, seed=123)
    assert s1.shape == (64, 3)
    assert np.array_equal(s1, s2)  # seeded -> reproducible
    assert (s1[:, 1] > 0).all() and (s1[:, 2] > 0).all()  # log-space draws


def test_round6_huge_finite_values_no_overflow():
    """Regression: a diverged-but-finite fit (e.g. rise_time=exp(700))
    must survive rounding — above 2^53/1e6 doubles have no 6-decimal
    resolution so round-to-6 is the identity, not an OverflowError."""
    from fink_filters_spark.operators.fit import _round6

    assert _round6(math.exp(700)) == math.exp(700)
    assert _round6(-1e300) == -1e300
    assert _round6(1.2345675) == 1.234568  # half-away-from-zero still exact
    assert _round6(-1.0000005) == -1.000001
    assert _round6(9.1e9) == 9.1e9  # just above the resolution threshold


def test_partition_kernels_survive_arrow_batch_splits(spark):
    """Regression: Arrow feeds a partition as MULTIPLE batches
    (maxRecordsPerBatch), and a key's rows span batch boundaries. The
    repartition+mapInPandas fast paths of linfit_per_key and
    sigmoid_fit_per_key must merge partial groups across batches — a
    per-batch reduction would emit duplicate keys with partial stats the
    moment a partition outgrows one batch. Both are checked against a
    driver-side reference computed per key with a pandas groupby."""
    from fink_filters_spark.operators.fit import (
        _round6,
        _sigmoid_fit_one,
        linfit_per_key,
        sigmoid_fit_per_key,
    )

    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "100")  # force many batches per partition
    try:
        rng = np.random.default_rng(17)
        n_keys, per = 40, 60  # 2400 rows >> 100-row batches
        uid = np.repeat(np.arange(n_keys), per)
        x = np.tile(np.arange(per), n_keys)
        y = (3 * x + rng.integers(0, 5, len(x))).astype(np.int64)
        pdf = pd.DataFrame({"user_id": uid, "xh": x, "v": y})
        # interleave rows so every key straddles many batches
        pdf = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
        df = spark.createDataFrame(pdf).repartition(2)

        lin_rows, sig_rows = [], []
        for k, g in pdf.groupby("user_id"):
            # exact integer Σ-statistics, as the kernel's int64 sums
            xs = [int(v) for v in g["xh"]]
            ys = [int(v) for v in g["v"]]
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            den_x = n * sum(a * a for a in xs) - sx * sx
            den_y = n * sum(b * b for b in ys) - sy * sy
            cov = n * sum(a * b for a, b in zip(xs, ys)) - sx * sy
            lin_rows.append((
                int(k), n, _round6(float(cov) / float(den_x)),
                _round6(float(cov) * float(cov) / (float(den_x) * float(den_y))),
            ))
            # the kernel sees each key's arrays in canonical (t, y) order
            t, yv = g["xh"].to_numpy(), g["v"].to_numpy()
            order = np.lexsort((yv, t))
            sig_rows.append(_sigmoid_fit_one(int(k), t[order], yv[order], None))

        lin = linfit_per_key(df).toPandas().sort_values("user_id")
        assert len(lin) == n_keys  # no duplicate keys
        pd.testing.assert_frame_equal(
            lin.reset_index(drop=True),
            pd.DataFrame(lin_rows, columns=["user_id", "n", "slope", "r2"]),
            check_dtype=False,
            check_exact=True,
        )

        sig = sigmoid_fit_per_key(df).toPandas().sort_values("user_id")
        assert len(sig) == n_keys
        pd.testing.assert_frame_equal(
            sig.reset_index(drop=True),
            pd.DataFrame(sig_rows, columns=list(sig.columns)).astype(
                {c: "float64" for c in sig.columns[2:]}
            ),
            check_dtype=False,
            check_exact=True,
        )
    finally:
        spark.conf.set(conf_key, before)


def test_sigmoid_fit_per_key_distributed_matches_local(spark):
    """Grouped kernel == driver-side reference fit, per key."""
    from fink_filters_spark.operators.fit import (
        rainbow_fit_arrays,
        sigmoid_fit_per_key,
    )

    frames = []
    for uid, (t0, amp, tau) in enumerate([(30.0, 50.0, 5.0), (60.0, 200.0, 12.0)]):
        t, y = _synth_sigmoid(t0, amp, tau, noise=1.0, seed=uid)
        frames.append(pd.DataFrame({"user_id": uid, "xh": t, "v": y}))
    pdf = pd.concat(frames)
    df = spark.createDataFrame(pdf)
    got = {r.user_id: r for r in sigmoid_fit_per_key(df).collect()}
    for uid in (0, 1):
        sub = pdf[pdf.user_id == uid]
        ref = rainbow_fit_arrays(sub.xh.to_numpy(), sub.v.to_numpy())
        assert abs(got[uid].t0 - ref["reference_time"]) < 1e-6
        assert abs(got[uid].amplitude - ref["amplitude"]) < 1e-6
        assert abs(got[uid].rise_time - ref["rise_time"]) < 1e-6


def test_rainbow_multiband_per_key_distributed_matches_local(spark):
    """Joint multiband kernel == driver-side reference fit: two users with
    synthetic two-band curves (blackbody-scaled shared sigmoid), unknown
    bands dropped inside the kernel."""
    from fink_filters_spark.operators.fit import (
        rainbow_fit_arrays,
        rainbow_multiband_fit_per_key,
    )

    waves = {"g": 4770.0, "r": 6231.0}
    frames = []
    rng = np.random.default_rng(3)
    for uid in (0, 1):
        t, y = _synth_sigmoid(40.0 + 10 * uid, 150.0, 7.0, n=80, noise=0.5, seed=uid)
        bands = np.where(np.arange(len(t)) % 2 == 0, "g", "r")
        # r-band scaled down (cooler blackbody ratio stand-in)
        y = np.where(bands == "r", y * 0.7, y)
        frames.append(pd.DataFrame({"user_id": uid, "xh": t, "v": y, "band": bands}))
    # a few unknown-band points that the kernel must drop
    frames.append(
        pd.DataFrame({"user_id": 0, "xh": [1.0, 2.0], "v": [9.9, 9.8],
                      "band": ["unknown", "unknown"]})
    )
    pdf = pd.concat(frames)
    df = spark.createDataFrame(pdf)
    got = {
        r.user_id: r
        for r in rainbow_multiband_fit_per_key(df, waves, band_col="band").collect()
    }
    for uid in (0, 1):
        sub = pdf[pdf.user_id == uid]
        ref = rainbow_fit_arrays(
            sub.xh.to_numpy(), sub.v.to_numpy(),
            band_wave_aa=waves, bands=sub.band.to_numpy(),
        )
        assert abs(got[uid].t0 - ref["reference_time"]) < 1e-6
        assert abs(got[uid].amplitude - ref["amplitude"]) < 1e-6
        assert abs(got[uid].temperature - ref["temperature"]) < 1e-6
    assert got[0].temperature is not None and got[0].temperature > 0


# ---------------------------------------------------------------------------
# UBJSON XGBoost reader (operators/xgb_ubj.py)
# ---------------------------------------------------------------------------


def test_ubjson_roundtrip_all_types():
    from fink_filters_spark.operators.xgb_ubj import ubjson_dumps, ubjson_loads

    doc = {
        "null": None,
        "bools": [True, False],
        "ints": [0, 127, 200, 30000, 2**20, 2**40, -5],
        "float": 3.5,
        "str": "héllo",
        "nested": {"a": [1, [2, {"b": "c"}]]},
    }
    assert ubjson_loads(ubjson_dumps(doc)) == doc


def test_ubjson_typed_and_counted_containers():
    """XGBoost emits count-optimized containers; parse $type/#count forms."""
    from fink_filters_spark.operators.xgb_ubj import ubjson_loads

    # [$l#i3 then three big-endian int32 payloads (no per-element markers)
    import struct

    buf = b"[$l#i\x03" + struct.pack(">iii", 7, -2, 300)
    assert ubjson_loads(buf) == [7, -2, 300]
    # counted object without $type: {#i1 <key "k"> <S "v">
    buf = b"{#i\x01i\x01kSi\x01v"
    assert ubjson_loads(buf) == {"k": "v"}


def _toy_model_dict():
    """Two hand-built depth-1/2 trees, binary:logistic, base_score 0.5.

    tree0:          [f0 < 1.0]
                   /          \
               leaf +0.4    [f1 < 5.0]
                            /        \
                       leaf -0.3   leaf +0.2
    tree1:          [f1 < 2.0]  (default_left=False at root)
                   /          \
               leaf +0.1    leaf -0.1
    """
    t0 = {
        "split_indices": [0, 0, 1, 0, 0],
        "split_conditions": [1.0, 0.4, 5.0, -0.3, 0.2],
        "left_children": [1, -1, 3, -1, -1],
        "right_children": [2, -1, 4, -1, -1],
        "default_left": [True, False, True, False, False],
    }
    t1 = {
        "split_indices": [1, 0, 0],
        "split_conditions": [2.0, 0.1, -0.1],
        "left_children": [1, -1, -1],
        "right_children": [2, -1, -1],
        "default_left": [False, False, False],
    }
    return {
        "learner": {
            "gradient_booster": {"model": {"trees": [t0, t1]}},
            "learner_model_param": {"base_score": "0.5"},
            "objective": {"name": "binary:logistic"},
        }
    }


def test_xgb_ubj_predict_matches_hand_traversal():
    from fink_filters_spark.operators.xgb_ubj import (
        XGBEnsemble,
        ubjson_dumps,
    )

    model = XGBEnsemble.from_ubj(ubjson_dumps(_toy_model_dict()))
    x = np.array(
        [
            [0.5, 0.0],   # t0: left leaf +0.4 ; t1: f1<2 left +0.1  -> 0.5
            [2.0, 4.0],   # t0: right, f1<5 -> -0.3 ; t1: f1>=2 -> -0.1 -> -0.4
            [2.0, 9.0],   # t0: right, f1>=5 -> +0.2 ; t1: -0.1 -> 0.1
            [np.nan, 1.0],  # t0 root default_left -> +0.4 ; t1 +0.1 -> 0.5
            [0.0, np.nan],  # t0 left +0.4 ; t1 root default_left=False -> -0.1 -> 0.3
        ]
    )
    expect_margin = np.array([0.5, -0.4, 0.1, 0.5, 0.3])
    np.testing.assert_allclose(model.margin(x), expect_margin, atol=1e-12)
    # base_score 0.5 -> logit 0 -> plain sigmoid of the margin
    np.testing.assert_allclose(
        model.predict_proba_batch(x), 1 / (1 + np.exp(-expect_margin)), atol=1e-12
    )


def test_xgb_ubj_scores_distributed(spark, tmp_path):
    """End-to-end: write a .ubj, load via load_model, broadcast-score a
    DataFrame with predict_proba — distributed output == local numpy."""
    from fink_filters_spark.operators.ml import load_model, predict_proba
    from fink_filters_spark.operators.xgb_ubj import ubjson_dumps

    path = tmp_path / "toy.ubj"
    path.write_bytes(ubjson_dumps(_toy_model_dict()))
    model = load_model(str(path))
    assert type(model).__name__ == "XGBEnsemble"  # ubj path, not the stub

    df = spark.createDataFrame(
        [(1, 0.5, 0.0), (2, 2.0, 4.0), (3, 2.0, 9.0)], "id long, f0 double, f1 double"
    )
    got = {
        r.id: r.score
        for r in predict_proba(df, ["f0", "f1"], model).collect()
    }
    local = model.predict_proba_batch(np.array([[0.5, 0.0], [2.0, 4.0], [2.0, 9.0]]))
    for i, rid in enumerate([1, 2, 3]):
        assert abs(got[rid] - local[i]) < 1e-12


def test_rainbow_mc_score_pipeline(spark, tmp_path):
    """Full fit -> MC -> classifier flow, distributed and deterministic:
    clean sigmoid objects pass quality cuts and get scored; a flat-noise
    object fails the snr cut and comes back invalid with NULL scores."""
    from fink_filters_spark.operators.fit import rainbow_mc_score_per_key
    from fink_filters_spark.operators.ml import load_model
    from fink_filters_spark.operators.xgb_ubj import ubjson_dumps

    path = tmp_path / "toy.ubj"
    path.write_bytes(ubjson_dumps(_toy_model_dict()))
    model = load_model(str(path))

    frames = []
    for uid, (t0, amp, tau) in enumerate([(30.0, 50.0, 5.0), (60.0, 200.0, 12.0)]):
        t, y = _synth_sigmoid(t0, amp, tau, noise=1.0, seed=uid)
        frames.append(pd.DataFrame({"user_id": uid, "xh": t, "v": y}))
    rng = np.random.default_rng(99)
    frames.append(
        pd.DataFrame(
            {"user_id": 7, "xh": np.linspace(0, 100, 50), "v": rng.normal(5, 0.1, 50)}
        )
    )
    df = spark.createDataFrame(pd.concat(frames))

    got1 = {r.user_id: r for r in rainbow_mc_score_per_key(df, model).collect()}
    got2 = {r.user_id: r for r in rainbow_mc_score_per_key(df, model).collect()}
    for uid in (0, 1, 7):
        assert got1[uid] == got2[uid]  # seeded MC -> run-to-run identical
    for uid in (0, 1):
        r = got1[uid]
        assert r.best_score is not None and 0.0 <= r.best_score <= 1.0
        assert r.frac_scores is not None and 0.0 <= r.frac_scores <= 1.0
    # flat noise: sigmoid rise_time is unconstrained -> snr cut rejects
    assert got1[7].best_score is None and got1[7].valid is False


def test_crossmatch_sky_domain_edges(spark):
    """Regression (review findings): the grid-bucketed cone join must match
    across the sky-domain edges the synthetic coordinates never hit —
    slightly-negative ra (the (-180,180] convention), dec exactly +90, and
    tiny radii right at the pole (full-ring fallback must key off
    |dec|+r >= 90, not a fixed clamp)."""
    from fink_filters_spark.operators.crossmatch import crossmatch

    cat = spark.createDataFrame(
        [
            (100, 359.9999, 0.0),     # near ra wrap
            (200, 10.0, 89.995),      # near the pole
            (300, 200.0, 90.0),       # exactly at the pole band edge
        ],
        "cid long, cat_ra double, cat_dec double",
    )
    stream = spark.createDataFrame(
        [
            (1, -0.0001, 0.0),        # negative ra: same sky point as 359.9999
            (2, 130.0, 89.9995),      # 120 deg of ra from cid=200, sep ~ tiny
            (3, 20.0, 90.0),          # at the pole: ra degenerate
        ],
        "aid long, ra double, dec double",
    )
    # small radius vs 1-degree cells: exercises ring math, not brute force
    pairs = {
        (r.aid, r.cid)
        for r in crossmatch(
            stream, cat, df_id="aid", radius_deg=0.01, cell_deg=1.0, how="all"
        ).select("aid", "cid").collect()
    }
    assert (1, 100) in pairs  # wrap across ra=0
    assert (2, 200) in pairs  # cross-pole-region match, 120 deg of ra apart
    assert (3, 300) in pairs  # dec=+90 exactly still lands in a valid band
    nearest = {r.aid: r.cid for r in crossmatch(
        stream, cat, df_id="aid", radius_deg=0.01, cell_deg=1.0
    ).collect()}
    # the pole point (dec=90, any ra) is closest to both polar stream rows
    assert nearest == {1: 100, 2: 300, 3: 300}


def test_uniform_sample_negative_keys(spark):
    """pmod semantics: negative keys sample like the reference's Python %."""
    from fink_filters_spark.operators.sample import uniform_sample

    df = spark.createDataFrame([(i,) for i in range(-300, 300)], "key long")
    got = {r.key for r in uniform_sample(df, "key", modulus=113, residue=5).collect()}
    want = {i for i in range(-300, 300) if i % 113 == 5}  # python %
    assert got == want and any(k < 0 for k in got)


def test_topk_null_scores_sort_last(spark):
    from fink_filters_spark.operators.topk import topk_by_key

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0), (3, "b", 1.0), (4, "b", None)],
        "id long, key string, score double",
    )
    asc = topk_by_key(df, "key", "score", k=2, ascending=True).collect()
    assert {r.id for r in asc} == {2, 3}  # nulls never win either direction
    desc = topk_by_key(df, "key", "score", k=2, ascending=False).collect()
    assert {r.id for r in desc} == {2, 3}


def test_classify_null_flag_is_false(spark):
    from fink_filters_spark.operators.classify import classify

    df = spark.createDataFrame(
        [(1, 5.0, 5.0, None), (2, 5.0, None, None)],
        "id long, x double, y double, z double",
    )
    flags = {
        "A": F.col("x") > 1,
        "B": F.col("y") > 1,
        "C": F.col("z") > 1,
    }
    got = {r.id: r["class"] for r in classify(df, flags).collect()}
    assert got[1] == "Ambiguous"  # two true flags despite the NULL third
    assert got[2] == "A"


def test_salted_group_count_distributes_hot_key(spark):
    """The salt must be row-dependent: a hot key's rows must spread over
    multiple (key, salt) buckets, and how='full' is rejected on
    salted_join (unmatched small rows would duplicate)."""
    import pytest as _pytest

    from fink_filters_spark.operators.skew import salted_group_count, salted_join

    hot = spark.range(0, 10000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    ).repartition(8)
    got = {r.k: r.n for r in salted_group_count(hot, "k", salt=16).collect()}
    assert got == {"hot": 10000}
    # distribution check: phase-1 must produce >1 bucket for the hot key
    n_buckets = (
        hot.withColumn(
            "__salt",
            F.pmod(F.xxhash64(*hot.columns) + F.spark_partition_id(), F.lit(16)),
        )
        .select("__salt").distinct().count()
    )
    assert n_buckets > 1

    small = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, w int")
    with _pytest.raises(ValueError):
        salted_join(hot, small, "k", how="full")


def test_mixture_sample_rates_and_subset_invariance(spark):
    """Per-source keep rates track the requested per-mille targets, absent
    sources fall back to the default, and a doc's fate is independent of
    what else is in the corpus (pure per-row predicate)."""
    import pandas as pd

    from fink_filters_spark.operators.sample import mixture_sample

    n = 4000
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "source": [f"s{i % 4}" for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    rates = spark.createDataFrame(
        [("s0", 1000), ("s1", 500), ("s2", 125)],
        "source string, rate_permille int",
    )
    kept = mixture_sample(df, rates, key="doc_id", source_col="source",
                          default_permille=250)
    counts = {r.source: r.n for r in
              kept.groupBy("source").agg(__import__("pyspark").sql.functions
                                         .count("*").alias("n")).collect()}
    per_source = n // 4
    assert counts["s0"] == per_source                      # keep-all exact
    assert abs(counts["s1"] / per_source - 0.5) < 0.08     # ~half
    assert abs(counts["s2"] / per_source - 0.125) < 0.05   # ~1/8
    assert abs(counts["s3"] / per_source - 0.25) < 0.08    # default ~1/4

    # subset invariance: the same doc survives regardless of corpus context
    sub = mixture_sample(df.filter("doc_id < 1000"), rates, key="doc_id",
                         source_col="source", default_permille=250)
    full_ids = {r.doc_id for r in kept.filter("doc_id < 1000").collect()}
    sub_ids = {r.doc_id for r in sub.collect()}
    assert full_ids == sub_ids

    # negative and huge keys sample at the stated rate too (the md5 bucket
    # has no sign or overflow hazards; a multiplicative (k*m)%1000 would
    # overflow long under ANSI for k >= ~3.5e9)
    import hashlib

    big = list(range(-1000, 0)) + [4_000_000_000 + i for i in range(1000)]
    neg = spark.createDataFrame(
        pd.DataFrame({"doc_id": big, "source": ["s1"] * len(big)})
    )
    got = {r.doc_id for r in
           mixture_sample(neg, rates, key="doc_id", source_col="source",
                          default_permille=250).collect()}
    expected = {
        i for i in big
        if int(hashlib.md5(str(i).encode()).hexdigest()[:5], 16) % 1000 < 500
    }
    assert got == expected

    # a source listed twice fails at call time, before any action
    dup = spark.createDataFrame(
        [("s0", 1000), ("s1", 500), ("s0", 10)], "source string, rate_permille int"
    )
    with pytest.raises(ValueError, match="duplicate rates row"):
        mixture_sample(df, dup, key="doc_id", source_col="source")
    # a NULL-source rates row matches nothing (two of them are no duplicate),
    # a NULL rate keeps the default, and a NULL-source corpus row keeps the
    # default too
    odd = spark.createDataFrame(
        [("s0", 1000), ("s1", 500), ("s2", 125), (None, 0), (None, 7), ("s3", None)],
        "source string, rate_permille int",
    )
    with_null = df.unionByName(
        spark.createDataFrame([(n + i, None) for i in range(400)],
                              "doc_id long, source string")
    )
    got = {r.doc_id for r in mixture_sample(
        with_null, odd, key="doc_id", source_col="source", default_permille=250
    ).collect()}
    assert {i for i in got if i < n} == {r.doc_id for r in kept.collect()}
    assert got - set(range(n)) == {
        i for i in range(n, n + 400)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:5], 16) % 1000 < 250
    }


def test_mixture_sample_mapping_and_frame_rates_agree(spark):
    """A ``{source: rate}`` mapping keeps the same rows as the rates
    DataFrame it mirrors, with a NULL rate (default), a source missing
    from the rates (default) and NULL-source corpus rows (default)."""
    import hashlib

    from fink_filters_spark.operators.sample import mixture_sample

    n = 2000
    docs = spark.createDataFrame(
        [(i, None if i % 10 == 9 else f"s{i % 4}") for i in range(n)],
        "doc_id long, source string",
    )
    frame = spark.createDataFrame(
        [("s0", 1000), ("s1", 500), ("s2", None)], "source string, rate_permille int"
    )
    mapping = {"s0": 1000, "s1": 500, "s2": None}

    def kept(rates):
        return sorted(r.doc_id for r in mixture_sample(
            docs, rates, key="doc_id", source_col="source", default_permille=250
        ).collect())

    rate = {"s0": 1000, "s1": 500}
    expected = [
        i for i in range(n)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:5], 16) % 1000
        < (250 if i % 10 == 9 else rate.get(f"s{i % 4}", 250))
    ]
    assert kept(mapping) == kept(frame) == expected


def test_bpe_train_matches_sennrich_example(spark):
    """BPE trainer golden on the classic worked example (Sennrich et al.
    2016 §3.2 uses {low, lower, newest, widest}): with end-of-word
    markers and count-then-lexicographic tie-breaking, the first merges
    must join the 'est</w>' suffix shared by the 6 newest/widest counts,
    and training must be deterministic across repartitionings."""
    from fink_filters_spark.operators.bpe import (
        END, bpe_token_stats, bpe_train, segment_word,
    )

    corpus = (
        [("low " * 5).strip()] + [("lower " * 2).strip()]
        + [("newest " * 6).strip()] + [("widest " * 3).strip()]
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    merges = bpe_train(df, "text", n_merges=6, top_words=100)
    # 'es' (9: newest 6 + widest 3), then 'es'+'t' (9), then 'est'+'</w>'
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", END)]
    # determinism across partitioning
    assert bpe_train(df.repartition(7), "text", n_merges=6, top_words=100) == merges

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    seg = segment_word("newest", ranks)
    assert seg[-1] == "est" + END and "".join(seg) == "newest" + END

    stats = {r.doc_id: (r.n_words, r.n_tokens)
             for r in bpe_token_stats(df, "doc_id", "text", merges).collect()}
    assert stats[0][0] == 5  # 'low' x5
    # tokens per word shrink as merges apply: newest = [n,e,w,est</w>] = 4
    assert stats[2] == (6, 6 * len(segment_word("newest", ranks)))


def test_bpe_token_stats_counts_all_words(spark):
    """Tokenization with ZERO merges = characters + end marker per word;
    with full merges the count can only shrink, never below one token per
    word. Also covers empty and null documents."""
    from fink_filters_spark.operators.bpe import bpe_token_stats, bpe_train

    rows = [(1, "aa bb aa"), (2, ""), (3, None), (4, "aa")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    zero = {r.doc_id: (r.n_words, r.n_tokens)
            for r in bpe_token_stats(df, "doc_id", "text", []).collect()}
    assert zero[1] == (3, 9)  # 3 words x (2 chars + </w>)
    assert zero[2] == (0, 0) and zero[3] == (0, 0) and zero[4] == (1, 3)
    merges = bpe_train(df, "text", n_merges=4, top_words=10)
    trained = {r.doc_id: r.n_tokens
               for r in bpe_token_stats(df, "doc_id", "text", merges).collect()}
    assert trained[1] <= zero[1][1] and trained[1] >= 3
    assert trained[4] == 1  # 'aa</w>' fully merged (aa appears 3x)


def test_pq_encode_picks_nearest_codeword_and_adc_bounds(spark):
    """PQ invariants on a controlled corpus: (1) every vector whose
    subvectors exactly equal a codeword encodes to that code with ADC
    distance 0 to an identical query; (2) ADC distance equals the sum of
    true subspace distances to the ASSIGNED codewords (exact integers);
    (3) ties break to the smallest code."""
    import numpy as np

    from fink_filters_spark.operators.similarity import (
        pq_adc_search, pq_encode, pq_train,
    )

    # 4-dim vectors, 2 subspaces x 2 dims; labels 0/1 cluster at +/-0.5
    rows = []
    for i in range(8):
        lab = i % 2
        base = 0.5 if lab == 0 else -0.5
        rows.append((i, [base, base, base, base], lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cb = pq_train(df, 2, label_col="label")
    cbl = {(r.code, r.m): r.cw for r in cb.collect()}
    assert cbl[(0, 0)] == [500000, 500000] and cbl[(1, 1)] == [-500000, -500000]

    codes = {(r.vec_id, r.m): r.code for r in pq_encode(df, cb, 2).collect()}
    for i in range(8):
        assert codes[(i, 0)] == i % 2 and codes[(i, 1)] == i % 2

    qdf = spark.createDataFrame(
        [(0, [0.5, 0.5, 0.5, 0.5])], "q_id long, embedding array<float>"
    )
    out = pq_adc_search(qdf, pq_encode(df, cb, 2), cb, k=8, n_sub=2).collect()
    # label-0 members (identical to their codeword AND the query): adc 0;
    # label-1 members: 4 dims x (1e6)^2
    d = {r.neighbor_id: r.adc_d2 for r in out}
    for i in range(8):
        want = 0 if i % 2 == 0 else 4 * 1_000_000**2
        if i in d:
            assert d[i] == want
    # self (q_id==vec_id==0) excluded
    assert 0 not in d and len(d) == 7


def test_pq_train_mean_floor_determinism(spark):
    """Codeword = floor of the exact mean of quantized elements, stable
    across partitionings."""
    from fink_filters_spark.operators.similarity import pq_train

    rows = [(0, [0.1, 0.2], 0), (1, [0.2, 0.5], 0), (2, [0.9, -0.3], 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cb = {(r.code, r.m): r.cw for r in pq_train(df, 2, label_col="label").collect()}
    assert cb[(0, 0)] == [150000]   # floor((100000+200000)/2)
    assert cb[(0, 1)] == [350000]   # floor((200000+500000)/2)
    assert cb[(1, 0)] == [900000] and cb[(1, 1)] == [-300000]
    cb2 = {(r.code, r.m): r.cw
           for r in pq_train(df.repartition(5), 2, label_col="label").collect()}
    assert cb == cb2


def test_source_cap_and_outlier_mad_shapes(spark):
    """Per-source cap keeps at most SOURCE_CAP docs per source and exactly
    min(cap, group size); MAD profile flags a known outlier."""
    from fink_filters_spark.queries.curation import (
        SOURCE_CAP, pipe_outlier_mad, pipe_source_cap,
    )

    sf_dir = "/root/testdata/sf0.1"  # cap binds only at 5000-doc scale
    out = pipe_source_cap(spark, sf_dir)
    per = out.groupBy("source").count().collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sizes = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    for r in per:
        assert r["count"] == min(SOURCE_CAP, sizes[r.source])

    rows = [(i, "t", "en", "s", 100) for i in range(9)] + [(9, "t", "en", "s", 10000)]
    toy = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import fink_filters_spark.queries.curation as cur
    from unittest import mock

    with mock.patch.object(cur, "load_table", lambda s, d, t: toy):
        prof = pipe_outlier_mad(spark, "ignored").collect()
    assert len(prof) == 1 and prof[0].n_outliers == 1 and prof[0].med_chars_x2 == 200


def test_mips_lsh_recall_floor(spark):
    """Norm-augmented sign-LSH MIPS: deterministic planes + data pin the
    recall vs exact MIPS at sf0.001 — 0.47 on isotropic gaussian vectors
    (the no-structure worst case). A floor of 0.40 catches any silent
    degradation of the augmentation or banding math."""
    from fink_filters_spark.queries.similarity import q_sim_maxdot, q_sim_maxdot_lsh

    sf = "/root/testdata/sf0.001"
    exact = {(r.q_id, r.neighbor_id) for r in q_sim_maxdot(spark, sf).collect()}
    approx = {(r.q_id, r.neighbor_id) for r in q_sim_maxdot_lsh(spark, sf).collect()}
    assert len(exact & approx) / len(exact) >= 0.40


def test_temperature_sample_allocation_and_cap(spark):
    """alpha=0.5 temperature sampling: (a) realized per-group counts track
    the integer-exact thresholds within binomial noise, (b) temperature
    inverts the head/tail rate ordering (tail groups sampled at a higher
    RATE than the head group), (c) a group whose fair share exceeds its
    size is kept whole (the min(1,.) cap), (d) the verdict is retry-stable."""
    from pyspark.sql import functions as F

    from fink_filters_spark.operators.sample import temperature_sample

    # skewed corpus: head group 8000, tail 1000 / 50 (tiny -> capped)
    rows = (
        [(i, "head") for i in range(8000)]
        + [(10_000 + i, "mid") for i in range(1000)]
        + [(20_000 + i, "tiny") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    kept = temperature_sample(df, "doc_id", "grp", budget_num=1, budget_den=2)
    got = {r.grp: (r.n, r.rate) for r in kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.first("temp_rate").alias("rate")
    ).collect()}

    # w: head=89, mid=31, tiny=7; S=127; budget=4525
    # rates: head 4525*89/(127*8000)=0.3964, mid 4525*31/(127*1000)=1.104->cap 1,
    # tiny 4525*7/(127*50)=4.99->cap 1
    assert got["mid"] == (1000, 1.0) and got["tiny"] == (50, 1.0)
    assert abs(got["head"][1] - 0.396383) < 1e-6
    exp = 8000 * got["head"][1]
    assert abs(got["head"][0] - exp) < 4 * (exp * (1 - got["head"][1])) ** 0.5
    # tail rate > head rate: the rebalance upsamples minority groups
    assert got["mid"][1] > got["head"][1]
    # retry-stable: same verdict set on a second evaluation
    again = {r.doc_id for r in temperature_sample(
        df, "doc_id", "grp", budget_num=1, budget_den=2).select("doc_id").collect()}
    assert again == {r.doc_id for r in kept.select("doc_id").collect()}


def test_quota_sample_exact_counts(spark):
    """Quota sampling keeps EXACTLY min(n, max(floor, n*num/den)) rows per
    group: proportional path, floor path, and whole-tiny-group path — and
    the kept set is retry-stable."""
    from pyspark.sql import functions as F

    from fink_filters_spark.operators.sample import quota_sample

    rows = (
        [(i, "big") for i in range(1000)]        # 30% -> 300
        + [(5000 + i, "small") for i in range(60)]   # floor 30 > 18
        + [(9000 + i, "tiny") for i in range(10)]    # n < floor -> all 10
    )
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    kept = quota_sample(df, "doc_id", "grp", 3, 10, min_per_group=30)
    got = {r.grp: r.n for r in kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"big": 300, "small": 30, "tiny": 10}
    again = {r.doc_id for r in quota_sample(
        df, "doc_id", "grp", 3, 10, min_per_group=30).collect()}
    assert again == {r.doc_id for r in kept.collect()}


def test_retention_cohorts_toy(spark):
    """D1/D7 retention on a hand-built event log: user A active on days
    0,1,7 (retained both), user B on 0 only, user C first active day 1,
    returns day 2 (D1) but not day 8."""
    from unittest import mock

    from pyspark.sql import functions as F

    import fink_filters_spark.tables as tbl
    from fink_filters_spark.queries.timeseries import US_PER_DAY, ev_retention_cohorts

    rows = []
    for uid, days in [(1, [0, 1, 7]), (2, [0]), (3, [1, 2])]:
        rows += [(uid, d * US_PER_DAY + 1000) for d in days]
    ev = spark.createDataFrame(rows, "user_id long, ts_us long")
    with mock.patch.object(tbl, "load_events", lambda s, d: ev):
        out = {r.cohort_day: r for r in ev_retention_cohorts(spark, "x").collect()}
    assert out[0].n_users == 2 and out[0].d1_retained == 1 and out[0].d7_retained == 1
    assert out[1].n_users == 1 and out[1].d1_retained == 1 and out[1].d7_retained == 0
    assert out[0].d1_rate_ppm == 500000 and out[1].d1_rate_ppm == 1000000


def test_lsh_arrow_kernel_guards_and_halfup(spark):
    """Hardening of the Arrow signature kernel: NaN / NULL embeddings fail
    loudly (a NaN would quantize to INT64_MIN silently), band_bits > 31 is
    refused (int32 signature would wrap), so is a plane count that does
    not split into bands, and the quantization is exact BigDecimal-HALF_UP
    (the floor(y+0.5) form rounds up spuriously at binade boundaries)."""
    import numpy as np
    import pytest as _pytest

    from fink_filters_spark.operators.similarity import (
        _band_signatures_arrow,
        _quantize_np,
        sign_planes,
    )

    planes = sign_planes(8, 2)
    # Quantization must match Spark's own F.round(x * scale) (BigDecimal
    # HALF_UP) element-for-element — the kernel now computes HALF_UP via
    # the exact fractional part instead of floor(y + 0.5), whose one
    # divergent double (0.5 - 2^-54) is provably unreachable as x * 1e6
    # but whose FORM was wrong; the sqrt-produced MIPS augmentation goes
    # through the same helper, where k+0.5 ties ARE reachable and
    # np.round's banker's tie would split from the oracle's round().
    import random

    random.seed(7)
    vals = [random.uniform(-2e-6, 2e-6) for _ in range(64)]
    ok = spark.createDataFrame(
        [(1, vals[:2])] + [(i + 2, vals[2 * i + 2:2 * i + 4]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    # the kernel's own quantization, over the rows as the kernel sees them
    got = {
        r["vec_id"]: _quantize_np(np.asarray([r["embedding"]], dtype=np.float64))[0].tolist()
        for r in ok.collect()
    }
    from pyspark.sql import functions as F2

    want = {
        r["vec_id"]: [int(x) for x in r["q"]]
        for r in ok.select(
            "vec_id",
            F2.transform(
                "embedding", lambda x: F2.round(x * 1e6).cast("long")
            ).alias("q"),
        ).collect()
    }
    assert got == want

    bad_nan = spark.createDataFrame(
        [(1, [float("nan"), 1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="NaN"):
        _band_signatures_arrow(bad_nan, "vec_id", "embedding", planes, 8, "__i").collect()

    bad_null = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="NULL embedding"):
        _band_signatures_arrow(bad_null, "vec_id", "embedding", planes, 8, "__i").collect()

    with _pytest.raises(ValueError, match="band_bits"):
        _band_signatures_arrow(ok, "vec_id", "embedding", sign_planes(32, 2), 32, "__i")
    with _pytest.raises(ValueError, match="multiple of band_bits"):
        _band_signatures_arrow(ok, "vec_id", "embedding", sign_planes(12, 2), 8, "__i")


def test_lsh_arrow_kernel_string_ids(spark):
    """The id column passes through with ITS declared type — string ids
    (supported by the Catalyst path) must not break the Arrow schema."""
    from fink_filters_spark.operators.similarity import (
        _band_signatures_arrow,
        sign_planes,
    )

    df = spark.createDataFrame(
        [("a-1", [1.0, 2.0]), ("b-2", [2.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    out = _band_signatures_arrow(df, "vec_id", "embedding", sign_planes(8, 2), 8, "__i")
    assert out.schema["__i"].dataType.simpleString() == "string"
    assert {r["__i"] for r in out.collect()} == {"a-1", "b-2"}


def test_kmeans_dim_mismatch_fails_loudly(spark):
    """Round-7 review: a corpus vector whose dim differs from the seeds'
    must raise with a clear message, not silently collapse the corpus
    into the smallest centroid (longer) or die in element_at (shorter)."""
    import pytest as _pytest

    from fink_filters_spark.operators.similarity import kmeans_lloyd

    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(Exception, match="dim != seed dim"):
        kmeans_lloyd(corpus, seeds, n_iter=1).collect()


def test_asof_join_null_payload_and_null_time(spark):
    """Round-7 review: the ASOF match is by TIME — a right row whose
    payload VALUE is NULL must ride through (not be skipped for a stale
    older payload), multi-column payloads must come from ONE right row,
    and a NULL right_time never matches. DuckDB ASOF semantics."""
    import duckdb

    from fink_filters_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 3), (2, 10), (3, 10)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 1, "old", "oldb"), (1, 5, None, "x"), (2, None, "n", "nb")],
        "k long, rt long, a string, b string",
    )
    got = {
        (r.k, r.t): (r.a, r.b)
        for r in asof_join(left, right, "k", "t", "rt", ["a", "b"]).collect()
    }
    con = duckdb.connect()
    con.sql("CREATE TABLE l AS SELECT * FROM (VALUES (1,10),(1,3),(2,10),(3,10)) t(k,t)")
    con.sql("CREATE TABLE r AS SELECT * FROM (VALUES "
            "(1,1,'old','oldb'),(1,5,NULL,'x'),(2,NULL,'n','nb')) t(k,rt,a,b)")
    want = {
        (k, t): (a, b)
        for k, t, a, b in con.sql(
            "SELECT l.k, l.t, r.a, r.b FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND l.t >= r.rt"
        ).fetchall()
    }
    assert got == want
    # the load-bearing rows: t=10 matches the rt=5 row WHOLE (NULL a, x b);
    # NULL right_time never matches; keyless left row null-extends
    assert got[(1, 10)] == (None, "x")
    assert got[(2, 10)] == (None, None)
    assert got[(3, 10)] == (None, None)


def test_asof_join_subsecond_timestamps(spark):
    """A bare cast(long) on timestamps is epoch SECONDS — a right row
    0.7s LATER in the same second must no longer match."""
    import datetime

    from fink_filters_spark.operators.asof import asof_join

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0, 200000)
    r_later = datetime.datetime(2024, 1, 1, 10, 0, 0, 900000)
    r_earlier = datetime.datetime(2024, 1, 1, 9, 59, 59, 900000)
    left = spark.createDataFrame([(1, t0)], "k long, t timestamp")
    right = spark.createDataFrame(
        [(1, r_later, "late"), (1, r_earlier, "early")],
        "k long, rt timestamp, v string",
    )
    row = asof_join(left, right, "k", "t", "rt", ["v"]).first()
    assert row.v == "early"


def test_interval_join_rejects_outer_how(spark):
    import pytest as _pytest

    from fink_filters_spark.operators.interval_join import interval_join

    pts = spark.createDataFrame([(1, 5)], "k long, t long")
    iv = spark.createDataFrame([(1, 0, 10)], "k long, s long, e long")
    with _pytest.raises(ValueError, match="unsupported"):
        interval_join(pts, iv, "k", "t", "s", "e", cell_width=10, how="left")


def test_classify_empty_flags_override_only(spark):
    from pyspark.sql import functions as F

    from fink_filters_spark.operators.classify import classify

    df = spark.createDataFrame([("a",), ("b",)], "x string")
    out = classify(
        df, flags={}, override=F.when(F.col("x") == "a", F.lit("A"))
    )
    got = {r.x: r["class"] for r in out.collect()}
    assert got == {"a": "A", "b": "Unknown"}


def test_constellation_label_keeps_null_coordinate_rows(spark):
    from fink_filters_spark.operators.constellation import constellation_label

    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, None, None)], "id long, ra double, dec double"
    )
    out = constellation_label(df, id_col="id")
    rows = {r.id: r.constellation for r in out.collect()}
    assert len(rows) == 2 and rows[1] is not None and rows[2] is None
    assert "sep_deg" not in out.columns


def test_grid_rank_keeps_null_values_and_matches_window(spark):
    """grid_rank is the drop-in rewrite for an unpartitioned rank window,
    so it must agree with row_number() OVER (ORDER BY value, tie) on
    nullable values too (round-10 review: the offset re-join used = and
    silently dropped every NULL-valued row; NULLs sort FIRST ascending,
    like the window)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fink_filters_spark.operators.rank import grid_rank

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 10), (4, 5), (5, None), (6, 7)],
        "id long, v int",
    )
    got = {
        r["id"]: (r["rank"], r["n"])
        for r in grid_rank(df, "v", ["id"], total_col="n").collect()
    }
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert {k: v[0] for k, v in got.items()} == want  # NULLs kept, ranks agree
    assert {v[1] for v in got.values()} == {6}  # total counts every row
