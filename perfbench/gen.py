"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: inputs are written before the Spark
session under test starts, so generation never counts as set-up or as
measured work. The same seed gives byte-identical inputs; item counts
depend only on the size arguments, never on the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JD0 = 2460000.5
BAND_WAVE_AA = {"g": 4770.0, "r": 6231.0}
SIMBAD = ["Unknown", "Galaxy", "Star", "QSO", "RRLyr", "EB*", "SN", "Blue", "Candidate_CV*"]
CUTOUT = pa.struct([("fileName", pa.string()), ("stampData", pa.binary())])


def _candidate_type() -> pa.DataType:
    """Arrow twin of ``schemas._ZTF_CANDIDATE_FIELDS`` (same names, order
    and widths), so Spark reads the files under ``ZTF_ALERT_SCHEMA``."""
    fields = []
    for name in (
        "jd", "fid", "magpsf", "sigmapsf", "magnr", "sigmagnr", "diffmaglim",
        "isdiffpos", "ra", "dec", "classtar", "drb", "rb", "nbad", "ndethist",
        "ssdistnr", "ssnamenr", "distnr", "neargaia", "distpsnr1", "jdstarthist",
    ):
        if name in ("fid", "nbad", "ndethist"):
            t = pa.int32()
        elif name in ("isdiffpos", "ssnamenr"):
            t = pa.string()
        else:
            t = pa.float64()
        fields.append((name, t))
    return pa.struct(fields)


CANDIDATE = _candidate_type()


def _candidates(r: np.random.Generator, n: int, jd: np.ndarray, fid: np.ndarray,
                mag: np.ndarray, ra: np.ndarray, dec: np.ndarray,
                jdstart: np.ndarray, ndet: np.ndarray) -> pa.StructArray:
    cols = {
        "jd": jd,
        "fid": fid.astype(np.int32),
        "magpsf": mag,
        "sigmapsf": r.uniform(0.01, 0.2, n),
        "magnr": r.uniform(14.0, 22.0, n),
        "sigmagnr": r.uniform(0.01, 0.1, n),
        "diffmaglim": r.uniform(19.5, 21.0, n),
        "isdiffpos": r.choice(np.array(["t", "f"]), n, p=[0.8, 0.2]),
        "ra": ra,
        "dec": dec,
        "classtar": r.uniform(0, 1, n),
        "drb": r.uniform(0, 1, n),
        "rb": r.uniform(0, 1, n),
        "nbad": r.choice(np.array([0, 0, 0, 1, 2], dtype=np.int32), n),
        "ndethist": ndet.astype(np.int32),
        "ssdistnr": r.uniform(-1, 30, n),
        "ssnamenr": r.choice(np.array(["null", "12345"]), n, p=[0.9, 0.1]),
        "distnr": r.uniform(0, 5, n),
        "neargaia": r.uniform(-1, 20, n),
        "distpsnr1": r.uniform(-1, 20, n),
        "jdstarthist": jdstart,
    }
    arrays = [pa.array(cols[f.name], type=f.type) for f in CANDIDATE]
    return pa.StructArray.from_arrays(arrays, fields=list(CANDIDATE))


def alert_table(seed: int, n: int, first_candid: int = 0, n_hist: tuple = (4, 12),
                stamp_bytes: int = 256) -> pa.Table:
    """``n`` nested ZTF alert packets (``schemas.ZTF_ALERT_SCHEMA`` shape).

    Each alert carries a ``prv_candidates`` history drawn from a rising
    sigmoid with a constant colour, so per-alert multiband fits have a
    model to converge to; objects repeat (about two alerts per object) so
    per-object top-k and state updates group. Sky positions put a third of
    the alerts in a dense band (|dec - 20| < 2) that the catalog also
    crowds.
    """
    r = np.random.default_rng(seed)
    candid = np.arange(first_candid, first_candid + n, dtype=np.int64)
    obj = r.integers(0, max(n // 2, 1), n)
    dense = r.uniform(0, 1, n) < 1 / 3
    ra = np.where(dense, r.uniform(0, 60, n), r.uniform(0, 360, n))
    dec = np.where(dense, r.uniform(18, 22, n), np.degrees(np.arcsin(r.uniform(-1, 1, n))))
    jd = JD0 + r.uniform(0, 0.4, n)
    fid = r.integers(1, 3, n)
    ndet = r.integers(1, 40, n)
    jdstart = jd - r.uniform(0, 200, n)

    # histories: flux(t) = A sigmoid((t - t0)/tau) * colour(band), in uJy
    k = r.integers(n_hist[0], n_hist[1] + 1, n)
    offsets = np.concatenate([[0], np.cumsum(k)])
    tot = int(offsets[-1])
    amp = r.uniform(200, 2000, n)
    tau = r.uniform(2, 8, n)
    t0 = r.uniform(-20, -5, n)
    colour = {1: 1.0, 2: 0.7}
    h_dt = np.concatenate([np.sort(-r.uniform(1, 30, int(m))) for m in k])
    h_fid = r.integers(1, 3, tot)
    per = np.repeat(np.arange(n), k)
    model = amp[per] / (1 + np.exp(-(h_dt - t0[per]) / tau[per]))
    model *= np.where(h_fid == 1, colour[1], colour[2])
    flux = model * (1 + r.normal(0, 0.03, tot))
    h_mag = 23.9 - 2.5 * np.log10(np.maximum(flux, 1e-3))
    hist = _candidates(
        r, tot, jd[per] + h_dt, h_fid, h_mag, ra[per], dec[per],
        jdstart[per], ndet[per],
    )
    prv = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), hist)

    mag = r.uniform(15.0, 21.5, n)
    stamps = r.integers(0, 256, (n, stamp_bytes), dtype=np.uint8)

    def cutout(kind: str) -> pa.StructArray:
        names = pa.array([f"candid{c}_{kind}.fits.gz" for c in candid])
        data = pa.array([row.tobytes() for row in stamps], type=pa.binary())
        return pa.StructArray.from_arrays([names, data], fields=list(CUTOUT))

    mangrove = pa.MapArray.from_arrays(
        pa.array(np.arange(0, 2 * n + 1, 2), type=pa.int32()),
        pa.array(np.tile(["lum_dist", "name"], n)),
        pa.array([v for d in r.uniform(10, 400, n) for v in (f"{d:.3f}", "g")]),
    )
    blazar = pa.MapArray.from_arrays(
        pa.array(np.arange(0, 2 * n + 1, 2), type=pa.int32()),
        pa.array(np.tile(["m0", "m1"], n)),
        pa.array(r.uniform(0, 2, 2 * n)),
    )
    ts = pa.array(
        ((jd - 2440587.5) * 86400e6).astype(np.int64), type=pa.timestamp("us", tz="UTC")
    )
    cols = {
        "objectId": pa.array([f"ZTF{o:08d}" for o in obj]),
        "candid": pa.array(candid),
        "candidate": _candidates(r, n, jd, fid, mag, ra, dec, jdstart, ndet),
        "prv_candidates": prv,
        "cdsxmatch": pa.array(r.choice(np.array(SIMBAD), n)),
        "DR3Name": pa.array(r.choice(np.array(["nan", "Gaia DR3 123"]), n)),
        "tns": pa.array(r.choice(np.array(["", "SN 2024abc", "Unknown"]), n)),
        "tracklet": pa.array(r.choice(np.array(["", "TRCK_20240101"]), n, p=[0.9, 0.1])),
        "roid": pa.array(r.choice(np.array([0, 1, 2, 3], dtype=np.int32), n)),
        "mulens": pa.array(r.uniform(-0.5, 1, n)),
        "snn_snia_vs_nonia": pa.array(r.uniform(0, 1, n)),
        "snn_sn_vs_all": pa.array(r.uniform(0, 1, n)),
        "rf_snia_vs_nonia": pa.array(r.uniform(0, 1, n)),
        "rf_kn_vs_nonkn": pa.array(r.uniform(0, 1, n)),
        "anomaly_score": pa.array(r.normal(0, 1, n)),
        "nalerthist": pa.array(r.integers(1, 50, n).astype(np.int32)),
        "spicy_id": pa.array(r.integers(-1, 100, n).astype(np.int32)),
        "spicy_class": pa.array(r.choice(np.array(["Unknown", "ClassI", "ClassII"]), n)),
        "mangrove": mangrove,
        "blazar_stats": blazar,
        "cutoutScience": cutout("science"),
        "cutoutTemplate": cutout("template"),
        "cutoutDifference": cutout("difference"),
        "brokerIngestTimestamp": ts,
        "timestamp": ts,
    }
    return pa.table(cols)


def write_alert_files(root: str, seed: int, n_files: int, per_file: int,
                      first_mtime: float = 1.0e9) -> list[str]:
    """Stage ``n_files`` parquet files of ``per_file`` alerts each. File i
    gets modification time ``first_mtime + i`` so the streaming file
    source (oldest first, one file per trigger) reads them in order:
    micro-batch i is file i."""
    os.makedirs(root, exist_ok=True)
    paths = []
    for i in range(n_files):
        t = alert_table(seed * 100_003 + i, per_file, first_candid=i * per_file)
        p = os.path.join(root, f"part-{i:05d}.parquet")
        pq.write_table(t, p, row_group_size=per_file)
        os.utime(p, (first_mtime + i, first_mtime + i))
        paths.append(p)
    return paths


def catalog_table(seed: int, n: int) -> pa.Table:
    """Crossmatch catalog: half of it in the alerts' dense band."""
    r = np.random.default_rng(seed)
    dense = r.uniform(0, 1, n) < 0.5
    ra = np.where(dense, r.uniform(0, 60, n), r.uniform(0, 360, n))
    dec = np.where(dense, r.uniform(18, 22, n), np.degrees(np.arcsin(r.uniform(-1, 1, n))))
    return pa.table({
        "cat_id": pa.array(np.arange(n, dtype=np.int64)),
        "cat_ra": pa.array(ra),
        "cat_dec": pa.array(dec),
        "cat_type": pa.array(r.choice(np.array(["Galaxy", "Star", "QSO"]), n)),
    })


# ---------------------------------------------------------------- corpus

@dataclass
class Corpus:
    """A generated corpus plus the ground truth the output checks use."""

    docs: pa.Table
    embeddings: pa.Table
    near_dup_pairs: list = field(default_factory=list)  # (id_a, id_b), id_a < id_b
    exact_dup_ids: list = field(default_factory=list)
    repetitive_ids: list = field(default_factory=list)
    pii_ids: list = field(default_factory=list)
    contaminated_ids: list = field(default_factory=list)


EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 is the evaluation set


def corpus(seed: int, n_docs: int, vocab: int = 6000, dim: int = 16,
           n_clusters: int = 8) -> Corpus:
    """``n_docs`` documents with fixed fractions of injected defects:
    8% near-duplicates (two words of a base document replaced), 4% exact
    duplicates (case and surrounding blanks changed), 4% repetitive texts,
    4% with PII, 4% carrying a 12-word span of an evaluation document.
    Embeddings come from ``n_clusters`` tight clusters, with 10% of the
    vectors a near-copy of another vector of their cluster."""
    r = np.random.default_rng(seed)
    words = np.array([f"w{i:x}q" for i in range(vocab)])
    lengths = r.integers(30, 70, n_docs)
    texts = [" ".join(r.choice(words, int(m))) for m in lengths]
    kinds = np.array(["base"] * n_docs, dtype=object)
    ids = np.arange(n_docs, dtype=np.int64)
    out = Corpus(docs=None, embeddings=None)

    def pick(count: int, pool) -> list:
        pool = [i for i in pool if kinds[i] == "base" and i % EVAL_MOD != 0]
        return sorted(r.choice(pool, count, replace=False).tolist())

    n_each = max(n_docs // 25, 1)
    # near duplicates: doc j copies a lower-id base doc i, two words changed
    for j in pick(2 * n_each, range(n_docs // 2, n_docs)):
        i = int(r.integers(0, n_docs // 2))
        while kinds[i] != "base" or i % EVAL_MOD == 0:
            i = int(r.integers(0, n_docs // 2))
        toks = texts[i].split(" ")
        for pos in r.choice(len(toks), 2, replace=False):
            toks[pos] = f"x{int(r.integers(0, 1 << 30)):x}z"
        texts[j] = " ".join(toks)
        kinds[i], kinds[j] = "source", "near"
        out.near_dup_pairs.append((i, j))
    for j in pick(n_each, range(n_docs // 2, n_docs)):
        i = int(r.integers(0, n_docs // 2))
        while kinds[i] != "base" or i % EVAL_MOD == 0:
            i = int(r.integers(0, n_docs // 2))
        texts[j] = "  " + texts[i].upper() + " "
        kinds[i], kinds[j] = "source", "exact"
        out.exact_dup_ids.append(j)
    for j in pick(n_each, range(n_docs)):
        phrase = " ".join(r.choice(words, 4))
        texts[j] = " ".join([phrase] * 10)
        kinds[j] = "rep"
        out.repetitive_ids.append(j)
    for j in pick(n_each, range(n_docs)):
        toks = texts[j].split(" ")
        toks.insert(len(toks) // 2, f"mail u{j}@example.org or call +33 6 12 34 56 78")
        texts[j] = " ".join(toks)
        kinds[j] = "pii"
        out.pii_ids.append(j)
    evals = [i for i in range(n_docs) if i % EVAL_MOD == 0]
    for j in pick(n_each, range(n_docs)):
        src = texts[int(r.choice(evals))].split(" ")
        start = int(r.integers(0, len(src) - 12))
        toks = texts[j].split(" ")
        toks[5:5] = src[start:start + 12]
        texts[j] = " ".join(toks)
        kinds[j] = "contam"
        out.contaminated_ids.append(j)

    out.docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array(r.choice(np.array(["src0", "src1", "src2"]), n_docs)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    centres = r.normal(0, 1, (n_clusters, dim))
    label = r.integers(0, n_clusters, n_docs)
    vec = centres[label] + r.normal(0, 0.35, (n_docs, dim))
    copies = r.choice(n_docs, n_docs // 10, replace=False)
    for c in copies:
        mates = np.nonzero(label == label[c])[0]
        vec[c] = vec[int(r.choice(mates))] + r.normal(0, 0.01, dim)
    out.embeddings = pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return out
