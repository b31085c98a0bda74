"""Dedup operator tests on a crafted corpus with planted near-duplicates."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rng.choice(vocab, 60)) for _ in range(80)]
    # planted near-dups: copy with one word changed / identical copy
    texts.append(texts[0].replace("w0", "w39", 1))
    texts.append(texts[1])  # exact duplicate of doc 1
    toks = texts[2].split()
    toks[10] = "w38"
    toks[30] = "w37"
    texts.append(" ".join(toks))
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    return spark.createDataFrame(pdf), pdf


def _exact_jaccard(pdf, n=3):
    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = {r.doc_id: sh(r.text) for r in pdf.itertuples()}
    out = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sets[i] & sets[j])
                out[(i, j)] = inter / (len(sets[i]) + len(sets[j]) - inter)
    return out


def test_dedup_exact(corpus):
    from fink_filters_spark.operators.dedup import dedup_exact

    df, pdf = corpus
    survivors = dedup_exact(df, "text", "doc_id").collect()
    assert len(survivors) == len(pdf) - 1  # one exact duplicate collapses
    dup_group = [r for r in survivors if r.n_dups == 2]
    assert len(dup_group) == 1 and dup_group[0].survivor_id == 1


def test_jaccard_pairs_finds_planted_dups(corpus):
    from fink_filters_spark.operators.dedup import jaccard_pairs

    df, pdf = corpus
    got = {(r.id_a, r.id_b) for r in jaccard_pairs(df, "doc_id", "text", 3, 0.5).collect()}
    truth = {p for p, j in _exact_jaccard(pdf).items() if j >= 0.5}
    # hashed-shingle jaccard == string jaccard unless a hash collision hits
    # this tiny corpus (it doesn't)
    assert got == truth
    assert {(0, 80), (1, 81), (2, 82)} <= got  # the planted pairs


def test_jaccard_size_ratio_prefilter_is_exact(spark):
    """Round 10: jaccard_pairs passes tau down as the co-posting size-ratio
    prefilter (min(na,nb)/max(na,nb) >= tau is implied by J >= tau). On a
    corpus with a WIDE doc-length spread — including pairs sitting exactly
    AT the ratio boundary (sizes 3 vs 6 at tau=0.5, J can reach 0.5 only
    via full containment... it can't: J = inter/(9-inter) <= 3/6 = 0.5 with
    equality iff inter=3) — the emitted pair set must equal the brute-force
    Jaccard >= tau set, i.e. the prefilter drops no qualifying pair."""
    from fink_filters_spark.operators.dedup import jaccard_pairs

    # doc 0: 4 words -> 2 3-shingles; doc 1 contains doc 0's text plus a
    # long tail (high containment, low jaccard, extreme size ratio);
    # docs 2/3: boundary pair — sizes 3 and 6 with all 3 shared, so
    # J = 3/6 = 0.5 exactly AND min/max = 0.5 exactly (kept at tau=0.5);
    # docs 4/5: near-identical long docs (kept); doc 6: unrelated.
    texts = {
        0: "alpha beta gamma delta",
        1: "alpha beta gamma delta " + " ".join(f"w{i}" for i in range(40)),
        2: "p q r s t",                    # 3 shingles
        3: "p q r s t u v w",              # 6 shingles, first 3 shared
        4: "one two three four five six seven eight nine ten",
        5: "one two three four five six seven eight nine eleven",
        6: "zz yy xx ww vv uu",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, "doc_id", "text", 3, 0.5,
                               max_df_frac=None).collect()
    }
    truth = {p: j for p, j in _py_gated_pairs(texts, 3, None,
             lambda i, na, nb: i / (na + nb - i)).items() if j >= 0.5}
    assert set(got) == set(truth)
    assert (2, 3) in got and abs(got[(2, 3)] - 0.5) < 1e-9  # boundary pair kept


def test_minhash_lsh_high_recall_on_near_dups(corpus):
    from fink_filters_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

    df, _ = corpus
    exact = {(r.id_a, r.id_b) for r in jaccard_pairs(df, "doc_id", "text", 3, 0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, "doc_id", "text", 3, 0.5).collect()}
    assert lsh <= exact  # verification step guarantees no false positives
    # planted pairs have jaccard ~0.9+ -> detection probability ~1
    assert {(0, 80), (1, 81), (2, 82)} <= lsh


def _py_gated_pairs(texts: dict[int, str], n: int, max_df_frac, measure):
    """Pure-Python replica of the gated filtered-universe semantics:
    word-n-gram shingle sets, drop shingles with document frequency >
    max_df_frac * (shingled docs), then exact pairwise measure over the
    SURVIVING sets (pairs with an empty surviving intersection or empty
    sets emit nothing)."""
    sets = {}
    for i, t in texts.items():
        words = t.split()
        sh = {tuple(words[j:j + n]) for j in range(len(words) - n + 1)}
        if sh:
            sets[i] = sh
    if max_df_frac is not None and len(sets) >= 50:  # GATE_MIN_DOCS floor
        from collections import Counter

        df = Counter(s for sh in sets.values() for s in sh)
        cap = max_df_frac * len(sets)
        sets = {i: {s for s in sh if df[s] <= cap} for i, sh in sets.items()}
    out = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            inter = len(a & b)
            if inter == 0:
                continue
            out[(ids[x], ids[y])] = measure(inter, len(a), len(b))
    return out


def test_jaccard_containment_max_df_gate_filtered_universe(spark):
    """The boilerplate gate's declared semantics: similarity over the
    NON-boilerplate shingle universe (intersection AND sizes filtered),
    verified against a pure-Python replica on a corpus where a shared
    boilerplate phrase spans every document. Ungated (max_df_frac=None)
    must still match the replica's ungated values — and differ from the
    gated ones, proving the gate actually fired."""
    from fink_filters_spark.operators.dedup import (
        containment_pairs, jaccard_pairs,
    )

    boiler = "all rights reserved contact us at example dot com for details"
    texts = {
        1: boiler + " alpha beta gamma delta epsilon zeta",
        2: boiler + " alpha beta gamma delta eta theta",
        3: boiler + " iota kappa lam mu nu xi omicron pi",
        4: boiler + " rho sigma tau upsilon phi chi psi omega",
    }
    # pad past the GATE_MIN_DOCS floor so the fraction cap ARMS: every doc
    # carries the boilerplate (df == N > N/2), fillers are pairwise unique
    for i in range(5, 61):
        texts[i] = boiler + f" filler{i} pad{i * 3} word{i * 7} tail{i * 11}"
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    jac = lambda i, na, nb: i / (na + nb - i)  # noqa: E731
    con = lambda i, na, nb: i / min(na, nb)  # noqa: E731
    for op, measure, vcol in (
        (jaccard_pairs, jac, "jaccard"),
        (containment_pairs, con, "containment"),
    ):
        for frac in (0.5, None):
            want = {
                k: v
                for k, v in _py_gated_pairs(texts, 3, frac, measure).items()
                if v >= 0.1
            }
            got = {
                (r.id_a, r.id_b): r[vcol]
                for r in op(
                    df, "doc_id", "text", 3, 0.1, max_df_frac=frac
                ).collect()
            }
            spark.catalog.clearCache()
            assert got.keys() == want.keys(), (vcol, frac, got, want)
            for k in want:
                assert abs(got[k] - want[k]) < 1e-6, (vcol, frac, k)
        gated = _py_gated_pairs(texts, 3, 0.5, measure)
        ungated = _py_gated_pairs(texts, 3, None, measure)
        assert gated != ungated  # the boilerplate actually purged


def test_jaccard_gate_drops_boilerplate_only_identical_pair(spark):
    """Two identical documents made ENTIRELY of corpus-wide boilerplate
    have an empty surviving shingle set under the gate: the gated call
    emits no pair for them (matching the oracle's filtered posting join),
    the ungated call emits them at similarity 1."""
    from fink_filters_spark.operators.dedup import jaccard_pairs

    boiler = "one two three four five six seven eight nine ten"
    # 55 pure-boilerplate clones (past the GATE_MIN_DOCS floor) + one doc
    # with a surviving suffix + one unrelated doc
    rows = [(i, boiler) for i in range(55)] + [
        (100, boiler + " unique suffix alpha beta gamma"),
        (101, "totally different content with its own words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gated = {(r.id_a, r.id_b) for r in
             jaccard_pairs(df, "doc_id", "text", 3, 0.1).collect()}
    spark.catalog.clearCache()
    ungated = {(r.id_a, r.id_b) for r in
               jaccard_pairs(df, "doc_id", "text", 3, 0.1,
                             max_df_frac=None).collect()}
    spark.catalog.clearCache()
    pure_boiler_pairs = {(a, b) for a in range(55) for b in range(55) if a < b}
    assert pure_boiler_pairs <= ungated
    assert not (pure_boiler_pairs & gated)
    assert not gated  # doc 100's survivors overlap nothing; 101 is alone


def test_minhash_lsh_collapse_branches_bit_identical(spark, monkeypatch):
    """The collapsed, the per-document and the probed branch must emit the
    SAME pair set with the SAME rounded jaccard values — the collapse is a
    pure physical rewrite (identical shingle sets share all band keys, so
    their pairs surface through the ordinary candidate join at Jaccard 1).
    The branches are forced through the probe's threshold."""
    import fink_filters_spark.operators.dedup as d

    base = "the quick brown fox jumps over the lazy dog tonight and runs away"
    rows = (
        [(i, base) for i in range(8)]  # exact-duplicate group
        + [(10 + i, base + f" trailing variant {i % 2}") for i in range(6)]
        + [(50 + i, f"unique document {i} with words {i * 7} {i * 13} only") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for mode, frac in ((True, 0.0), (False, 2.0), ("auto", d.COLLAPSE_DUP_FRAC)):
        monkeypatch.setattr(d, "COLLAPSE_DUP_FRAC", frac)
        got = d.minhash_lsh_pairs(df, "doc_id", "text", 3, 0.5)
        out[mode] = sorted((r.id_a, r.id_b, r.jaccard) for r in got.collect())
        spark.catalog.clearCache()
    assert out[True] == out[False] == out["auto"]
    assert len(out[True]) >= 8 * 7 // 2  # the duplicate group's pairs at 1.0


def test_duplicate_fraction_probe_picks_the_branch(spark):
    """The auto probe (count + approx_count_distinct over xxhash64(text))
    must clear COLLAPSE_DUP_FRAC on a heavily replicated corpus and stay
    under it on an all-unique one; empty input is 0.0, not a crash."""
    from fink_filters_spark.operators.dedup import (
        COLLAPSE_DUP_FRAC, _duplicate_fraction,
    )

    dup = spark.createDataFrame(
        [(i, "same text") for i in range(40)] + [(100, "other")],
        "doc_id long, text string",
    )
    uniq = spark.createDataFrame(
        [(i, f"unique text number {i} padding {i * 31}") for i in range(200)],
        "doc_id long, text string",
    )
    empty = uniq.filter("doc_id < 0")
    assert _duplicate_fraction(dup, "text") > COLLAPSE_DUP_FRAC
    assert _duplicate_fraction(uniq, "text") < COLLAPSE_DUP_FRAC
    assert _duplicate_fraction(empty, "text") == 0.0


def test_simhash_pairs_planted_dups(corpus):
    from fink_filters_spark.operators.dedup import simhash_pairs

    df, _ = corpus
    got = {(r.id_a, r.id_b) for r in simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    assert (1, 81) in got  # identical docs -> hamming 0
    for r in simhash_pairs(df, "doc_id", "text", max_hamming=3).collect():
        assert r.hamming <= 3


def test_embedding_pairs_matches_numpy(spark):
    from fink_filters_spark.operators.dedup import embedding_pairs

    rng = np.random.default_rng(19)
    base = rng.normal(size=(30, 8))
    vecs = np.vstack([base, base[0] + rng.normal(0, 0.01, 8)])  # near-dup of vec 0
    pdf = pd.DataFrame(
        {"vec_id": np.arange(31, dtype=np.int64), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    got = {(r.id_a, r.id_b): r.cosine for r in embedding_pairs(df, "vec_id", "embedding", 0.95).collect()}
    q = np.round(vecs * 1e6).astype(np.int64)
    dots = (q @ q.T).astype(float)
    norms = np.sqrt((q * q).sum(axis=1).astype(float))
    cos = dots / norms[:, None] / norms[None, :]
    want = {
        (i, j)
        for i in range(31)
        for j in range(i + 1, 31)
        if cos[i, j] >= 0.95
    }
    assert set(got) == want
    assert (0, 30) in got and got[(0, 30)] > 0.99

    # ids come back in the input's integer type; non-integral ids are refused
    as_int = embedding_pairs(
        df.withColumn("vec_id", df["vec_id"].cast("int")), "vec_id", "embedding", 0.95
    )
    assert as_int.schema.simpleString() == "struct<id_a:int,id_b:int,cosine:double>"
    assert {(r.id_a, r.id_b) for r in as_int.collect()} == want
    with pytest.raises(TypeError, match="integer"):
        embedding_pairs(
            df.withColumn("vec_id", df["vec_id"].cast("string")), "vec_id", "embedding", 0.95
        )


def test_connected_components_paths_agree(spark):
    """Driver union-find and the distributed star rounds produce identical
    labels; chains need more than one round to contract (diameter > 1)."""
    from fink_filters_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (5, 40), (40, 6)],
        "id_a long, id_b long",
    )
    fast = {(r.node, r.component)
            for r in connected_components(pairs).collect()}
    dist = {(r.node, r.component)
            for r in connected_components(pairs, driver_threshold=0).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20), (5, 5), (40, 5), (6, 5)}
    assert fast == want
    assert dist == want


def test_connected_components_log_diameter_convergence(spark):
    """Large-star / small-star contraction makes the round count
    polylogarithmic in the component diameter: a 600-node sorted path — the
    worst case for 1-hop min-label propagation, min id at one end — must
    converge well inside a log-scale round budget (1-hop propagation would
    need ~600 rounds)."""
    from fink_filters_spark.operators.dedup import connected_components

    n = 600
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    rounds = []
    out = connected_components(
        pairs,
        driver_threshold=0,
        max_iter=16,  # ~2*log2(600) — raises if doubling ever regresses
        on_round=lambda i, chg: rounds.append((i, chg)),
    )
    labels = {r.node: r.component for r in out.collect()}
    assert labels == {i: 0 for i in range(n)}
    assert len(rounds) <= 16
    # the hook receives the 0-based round index (not a generation counter,
    # which does not advance without a state_dir), and the converging
    # round reports 0 edges not yet in star form
    assert [i for i, _ in rounds] == list(range(len(rounds)))
    assert rounds[-1][1] == 0


@pytest.mark.parametrize("crash_after", [1, 2, 3])
def test_connected_components_restart_recovery(spark, tmp_path, crash_after):
    """The 100 TB fallback path is crash-safe BY TEST: kill the star loop
    mid-run after 1, 2 or 3 rounds (the max_iter cap leaves committed edge
    generations in state_dir), scribble a partial generation with no
    _SUCCESS (a mid-generation crash), then resume — the resumed run must
    ignore the torn generation, continue from the last committed one, and
    produce labels identical to both an uninterrupted distributed run and
    the driver union-find."""
    import os

    from fink_filters_spark.operators.dedup import connected_components

    # chain 0-1-...-14 (diameter 14 ⇒ five star rounds) + extras
    chain = [(i, i + 1) for i in range(14)]
    pairs = spark.createDataFrame(
        chain + [(100, 101), (101, 102), (200, 201)], "id_a long, id_b long"
    )
    truth = {(r.node, r.component) for r in connected_components(pairs).collect()}

    state = str(tmp_path / "cc_state")
    # phase 1: "crash" after ``crash_after`` rounds (the canonical edge
    # gen + one gen per round, all short of convergence). Exhausting
    # max_iter RAISES (returning labels whose convergence was never
    # CONFIRMED would be silent for callers that treat the output as
    # final) — the committed generations stay durable for resume.
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="not converged"):
        connected_components(
            pairs, driver_threshold=0, max_iter=crash_after, state_dir=state
        ).collect()
    committed = sorted(
        int(d.split("=")[1]) for d in os.listdir(state) if d.startswith("gen=")
    )
    assert len(committed) >= 2
    # phase 2: a torn generation — directory exists, no _SUCCESS marker
    torn = os.path.join(state, f"gen={committed[-1] + 1}")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00garbage, not parquet")
    # phase 3: resume to convergence
    resumed = {
        (r.node, r.component)
        for r in connected_components(
            pairs, driver_threshold=0, state_dir=state
        ).collect()
    }
    assert resumed == truth
    # the torn generation was overwritten by a committed one, not consumed
    assert os.path.exists(os.path.join(torn, "_SUCCESS"))
    # phase 4: resuming an already-converged state is a cheap no-op run
    again = {
        (r.node, r.component)
        for r in connected_components(
            pairs, driver_threshold=0, state_dir=state
        ).collect()
    }
    assert again == truth
    # phase 5: a DIFFERENT pair graph with the same state_dir must NOT
    # resume onto the stale labels — the input fingerprint clears them
    other = spark.createDataFrame(
        [(7, 8), (8, 9), (300, 301)], "id_a long, id_b long"
    )
    other_truth = {
        (r.node, r.component) for r in connected_components(other).collect()
    }
    got_other = {
        (r.node, r.component)
        for r in connected_components(
            other, driver_threshold=0, state_dir=state
        ).collect()
    }
    assert got_other == other_truth


def test_simhash_fused_kernel_matches_catalyst_agg(spark):
    """The fused Arrow fingerprint kernel and the explode+aggregate Catalyst
    path produce identical 48-bit fingerprints."""
    from fink_filters_spark.operators.dedup import (
        _hashed_shingled,
        simhash_agg,
        simhash_fingerprints,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused = {r["__id"]: r["__sim"]
             for r in simhash_fingerprints(docs, "doc_id", "text").collect()}
    hashed = _hashed_shingled(docs, "doc_id", "text", 3).withColumnRenamed("__sh", "__hs")
    agg = {r["__id"]: r["__sim"] for r in simhash_agg(hashed).collect()}
    assert fused == agg and len(fused) > 0


def test_minhash_fused_kernel_matches_catalyst(spark):
    """Fused Arrow MinHash signatures equal the native array_min(transform)
    path over the native shingle pipeline."""
    from pyspark.sql import functions as F

    from fink_filters_spark.functions.text import FP_MOD
    from fink_filters_spark.operators.dedup import (
        MINHASH_AB,
        _hashed_shingled_native,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused = {r["__id"]: tuple(r[f"m{i}"] for i in range(16))
             for r in minhash_signatures(docs, "doc_id", "text").collect()}

    def _perm(a, b):
        return lambda h: (h * a + b) % FP_MOD

    nat = _hashed_shingled_native(docs, "doc_id", "text", 3).select(
        "__id",
        *[
            F.array_min(F.transform("__sh", _perm(a, b))).alias(f"m{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ],
    )
    native = {r["__id"]: tuple(r[f"m{i}"] for i in range(16)) for r in nat.collect()}
    assert fused == native and len(fused) > 0


def test_decontaminate_removes_ngram_overlap(spark):
    """A train doc sharing a 3-gram with the eval set is dropped; disjoint
    docs survive."""
    import pandas as pd

    from fink_filters_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta",  # contains eval 3-gram
                    "one two three four five",  # disjoint
                    "beta gamma delta epsilon",  # contains eval 3-gram
                ],
            }
        )
    )
    ev = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": ["zz beta gamma delta yy"]})
    )
    kept = sorted(
        r.doc_id for r in decontaminate(train, ev, "doc_id", "text", n=3).collect()
    )
    assert kept == [2]


def test_pii_counts_on_crafted_strings(spark):
    import pandas as pd

    from fink_filters_spark.functions.text import pii_counts

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "contact me at jane.doe+x@example.co.uk or bob@x.io",
                    "server 192.168.0.1 and 10.0.0.255 up",
                    "call +1 555 867 5309 now",
                    "ticket 1234567 opened",
                    "no pii here at all",
                ]
            }
        )
    )
    counts = pii_counts("text")
    rows = df.select(
        *[c.alias(k) for k, c in counts.items()]
    ).collect()
    assert [r.email for r in rows] == [2, 0, 0, 0, 0]
    assert [r.ipv4 for r in rows] == [0, 2, 0, 0, 0]
    assert [r.phone for r in rows] == [0, 0, 1, 0, 0]
    assert [r.digit_run for r in rows] == [0, 0, 0, 1, 0]


def test_redact_pii_on_crafted_strings(spark):
    import pandas as pd

    from fink_filters_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "mail jane.doe+x@example.co.uk asap",
                    "server 192.168.0.1 up",
                    "call +1 555 867 5309 now",
                    "ticket 1234567 opened",
                    "no pii here at all",
                ]
            }
        )
    )
    got = [r.red for r in df.select(redact_pii("text").alias("red")).collect()]
    assert got == [
        "mail <EMAIL> asap",
        "server <IPV4> up",
        "call <PHONE> now",
        "ticket <DIGIT_RUN> opened",
        "no pii here at all",
    ]


def test_contamination_fraction_counts(spark):
    """Known shingle overlap: doc sharing k of its m distinct 3-grams with
    the eval set scores k/m; a disjoint doc scores 0."""
    import pandas as pd

    from fink_filters_spark.operators.dedup import contamination_fraction

    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                # doc 1: 3 distinct 3-grams, exactly one ("c d e") in eval
                "text": ["a b c d e", "p q r s t"],
            }
        )
    )
    ev = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": ["x c d e y"]})
    )
    rows = {
        r.doc_id: r
        for r in contamination_fraction(train, ev, "doc_id", "text", n=3).collect()
    }
    assert rows[1].n_shingles == 3 and rows[1].n_hit == 1
    assert abs(rows[1].contamination - 1 / 3) < 1e-6
    assert rows[2].n_shingles == 3 and rows[2].n_hit == 0
    assert rows[2].contamination == 0.0


def test_duplicated_spans_matches_python_replica(corpus):
    """Per-doc duplicated-span counts and interval-union coverage equal an
    independent per-doc python computation on the planted-dup corpus."""
    from fink_filters_spark.operators.dedup import duplicated_spans

    df, pdf = corpus
    n = 5
    spans = {}  # doc -> list of (pos, gram)
    for r in pdf.itertuples():
        w = r.text.lower().split()
        spans[r.doc_id] = [
            (i, " ".join(w[i : i + n])) for i in range(len(w) - n + 1)
        ]
    owners = {}
    for d, sp in spans.items():
        for _, g in sp:
            owners.setdefault(g, set()).add(d)
    expected = {}
    for d, sp in spans.items():
        dup = [(p, g) for p, g in sp if len(owners[g]) >= 2]
        cov = set()
        for p, _ in dup:
            cov.update(range(p, p + n))
        expected[d] = (len(sp), len(dup), len(cov))
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.covered_tokens)
        for r in duplicated_spans(df, "doc_id", "text", n=n).collect()
    }
    assert got == expected
    # the planted exact duplicate (doc 81 copies doc 1) must be fully covered
    assert got[81][2] == len(pdf.text[81].split())


def test_semantic_dedup_cluster_confinement(spark):
    """Within-cluster near-identical pair -> higher id dropped; an equally
    similar CROSS-cluster pair survives (the documented SemDeDup
    approximation: comparisons are confined to a cluster)."""
    import pandas as pd

    from fink_filters_spark.operators.dedup import semantic_dedup

    # centroids: e0 and e1 axes; vecs 10/11 ~ e0 (near-dups of each other),
    # 12 ~ e1, 13 ~ e1 but also near-dup of nothing in its cluster
    vecs = {
        10: [1.0, 0.02, 0.0],
        11: [0.99, 0.0, 0.01],   # cos(10,11) ~ 1 -> dropped (same cluster)
        12: [0.0, 1.0, 0.03],
        13: [0.02, 0.98, -0.01],  # cos(12,13) ~ 1 -> dropped (same cluster)
        14: [0.7, -0.7, 0.0],     # closer to e0 cluster, far from 10/11
    }
    em = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": list(vecs), "embedding": [vecs[k] for k in vecs]}
        )
    )
    cents = spark.createDataFrame(
        pd.DataFrame(
            {"centroid_id": [0, 1],
             "centroid_vec": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]}
        )
    )
    out = {r.vec_id: r for r in semantic_dedup(em, cents, tau=0.9).collect()}
    assert out[10].kept == 1 and out[11].kept == 0  # lower id survives
    assert out[12].kept == 1 and out[13].kept == 0
    assert out[14].kept == 1  # same cluster as 10/11 but cos < tau
    assert out[10].centroid_id == 0 and out[12].centroid_id == 1


def test_semantic_dedup_zero_vector_harmless(spark):
    """A zero (or sub-quantization) vector yields NaN cosine; Spark orders
    NaN above every number, so without the norm guard it would falsely
    mark its whole cluster as duplicates."""
    import pandas as pd

    from fink_filters_spark.operators.dedup import semantic_dedup

    em = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [1, 2, 3],
                # vec 1 quantizes to all-zero; 2 and 3 are dissimilar
                "embedding": [[1e-8, 1e-8], [1.0, 0.0], [0.0, 1.0]],
            }
        )
    )
    cents = spark.createDataFrame(
        pd.DataFrame({"centroid_id": [0], "centroid_vec": [[1.0, 1.0]]})
    )
    out = {r.vec_id: r.kept for r in semantic_dedup(em, cents, tau=0.5).collect()}
    assert out == {1: 1, 2: 1, 3: 1}  # nobody dropped by a NaN cosine


def test_trim_duplicated_spans_reconstruction(spark):
    """The rewrite removes exactly the tokens covered by cross-doc
    duplicated spans: a doc duplicated verbatim trims to empty, a doc with
    a shared prefix keeps its unique tail, a unique doc is untouched."""
    import hashlib

    import pandas as pd

    from fink_filters_spark.operators.dedup import trim_duplicated_spans

    shared = "a b c d e"  # one 5-token span, present in docs 1 and 2
    texts = {
        1: shared,
        2: shared + " x y z",       # shared prefix + unique tail
        3: "p q r s t u",           # unique: untouched
    }
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {r.doc_id: r for r in
           trim_duplicated_spans(df, "doc_id", "text", n=5).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1: all 5 tokens covered -> empty
    assert (got[1].n_tokens, got[1].kept_tokens) == (5, 0)
    assert got[1].trimmed_md5 == h("")
    # doc 2: spans "a b c d e" and shifted ones? only the span starting at 0
    # matches doc 1; positions 0-4 covered, tail "x y z" kept
    assert (got[2].n_tokens, got[2].kept_tokens) == (8, 3)
    assert got[2].trimmed_md5 == h("x y z")
    # doc 3: no cross-doc span -> identity
    assert (got[3].n_tokens, got[3].kept_tokens) == (6, 6)
    assert got[3].trimmed_md5 == h("p q r s t u")


def test_simhash_collapse_matches_naive_band_join(spark):
    """The representative collapse in simhash_pairs is a pure execution
    optimization: on a corpus dense with exact duplicates (the collapse's
    target input) the emitted pair set equals a naive per-document band
    join built directly from the fingerprints."""
    from fink_filters_spark.operators.dedup import (
        SIMHASH_BAND_BITS, SIMHASH_BITS, simhash_fingerprints, simhash_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog today",
        "pack my box with five dozen liquor jugs right now",
        "sphinx of black quartz judge my vow please",
    ]
    rows = [(i * 10 + j, t) for j, t in enumerate(base) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()}

    sims = {r["__id"]: r["__sim"]
            for r in simhash_fingerprints(df, "doc_id", "text", 3).collect()}
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1

    def bands(s):
        return {(j, (s >> (j * SIMHASH_BAND_BITS)) & mask) for j in range(n_bands)}

    want = set()
    ids = sorted(sims)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bands(sims[a]) & bands(sims[b]):
                h = bin(sims[a] ^ sims[b]).count("1")
                if h <= 3:
                    want.add((a, b, h))
    assert got == want and len(want) >= 40  # within-group pairs present


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment 1.0
    even though Jaccard is far below its tau — the asymmetric signal the
    operator exists for. Identical docs expand at containment 1 through
    the representative collapse."""
    from fink_filters_spark.operators.dedup import containment_pairs, jaccard_pairs

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [(1, short), (2, short + " " + filler), (3, short)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {(r.id_a, r.id_b): r.containment
            for r in containment_pairs(df, "doc_id", "text", n=3, tau=0.8).collect()}
    assert cont[(1, 2)] == 1.0  # short's shingles all inside long
    assert cont[(1, 3)] == 1.0 and cont[(2, 3)] == 1.0  # identical + quote
    jac = {(r.id_a, r.id_b): r.jaccard
           for r in jaccard_pairs(df, "doc_id", "text", n=3, tau=0.5).collect()}
    assert (1, 2) not in jac  # union washes the quote out below tau
    assert jac[(1, 3)] == 1.0


def test_sparse_cosine_dense_gate_matches_posting_path(spark):
    """Round-11 dense gate: small-vocabulary corpora take the block-matmul
    path; its pair set and cosines must be bit-identical to the inverted-
    index posting join (forced by shrinking the vocab bound to 0). Also
    pins the tau <= 0 carve-out: there the posting join emits zero-dot
    pairs that share only an idf-0 term — unrepresentable in a dense
    weight vector — so the gate must keep the posting path."""
    import fink_filters_spark.operators.dedup as d

    rows = [
        (1, "red green blue cyan common"),
        (2, "cyan blue green red common"),
        (3, "zeta eta theta iota common"),
        (4, "red green blue iota common"),
        (5, ""),  # empty doc: single hash-0 token, zero idf everywhere
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(tau):
        return sorted(
            (r.id_a, r.id_b, r.cosine)
            for r in d.sparse_cosine_pairs(df, "doc_id", "text", tau=tau).collect()
        )

    spark.catalog.clearCache()
    dense = run(0.1)  # vocab 10 << _DENSE_MAX_VOCAB -> dense path
    old = d._DENSE_MAX_VOCAB
    try:
        d._DENSE_MAX_VOCAB = 0  # force the posting join
        spark.catalog.clearCache()
        posting = run(0.1)
    finally:
        d._DENSE_MAX_VOCAB = old
    assert dense == posting and dense  # identical, non-empty

    # tau = 0: pair (1, 3) shares ONLY the ubiquitous zero-weight term
    # ('common', df = N -> idf 0) -> dot 0, cosine 0.0 >= 0.0. Only the
    # posting join can see it; the gate must route around the dense path.
    spark.catalog.clearCache()
    at_zero = run(0.0)
    assert any((a, b) == (1, 3) for a, b, _ in at_zero)


def test_dense_cosine_divides_by_smaller_id_norm_first(spark):
    """The block-pair cosine kernel divides in the posting join's (and the
    embedding oracle's) order: by the smaller id's norm first. Ids 15 and
    16 over 16 blocks land in blocks 15 and 0, so block order is the
    reverse of id order; for these two vectors the two division orders
    differ by one ulp, and tau sits exactly on the id-order value. Both
    callers of the kernel are checked: the dense TF-IDF path and
    ``embedding_pairs``."""
    import math

    from fink_filters_spark.operators.dedup import _dense_int_cosine_pairs, embedding_pairs

    v15, v16 = [16, 19, 8], [14, 19, 13]
    dot = sum(a * b for a, b in zip(v15, v16))
    s15 = math.sqrt(sum(a * a for a in v15))
    s16 = math.sqrt(sum(b * b for b in v16))
    tau = dot / s15 / s16  # the posting join's expression (id_a < id_b)
    assert dot / s16 / s15 < tau  # the block-order quotient is one ulp low

    wt = spark.createDataFrame(
        [(15, w, x) for w, x in enumerate(v15)]
        + [(16, w, x) for w, x in enumerate(v16)],
        "__id long, __w long, __wgt long",
    )
    got = [tuple(r) for r in _dense_int_cosine_pairs(wt, [0, 1, 2], tau).collect()]
    assert got == [(15, 16, tau)]

    em = spark.createDataFrame(
        [(15, [16e-6, 19e-6, 8e-6]), (16, [14e-6, 19e-6, 13e-6])],  # quantize to v15, v16
        "vec_id long, embedding array<double>",
    )
    got = [tuple(r) for r in embedding_pairs(em, "vec_id", "embedding", tau).collect()]
    assert got == [(15, 16, math.floor(tau * 1e6 + 0.5) / 1e6)]


def test_sparse_cosine_df_pruning_and_reordering_robustness(spark):
    """max_df_frac drops ubiquitous terms from the vectors (changing
    cosines exactly as recomputing without those terms would), and word
    REORDERING leaves sparse cosine at 1.0 where 3-gram Jaccard finds
    nothing."""
    from fink_filters_spark.operators.dedup import jaccard_pairs, sparse_cosine_pairs

    rows = [
        (1, "red green blue cyan common"),
        (2, "cyan blue green red common"),   # reordered copy of 1
        (3, "zeta eta theta iota common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cos = {(r.id_a, r.id_b): r.cosine
           for r in sparse_cosine_pairs(df, "doc_id", "text", tau=0.0).collect()}
    assert cos[(1, 2)] == 1.0  # identical bags, any order
    jac = jaccard_pairs(df, "doc_id", "text", n=3, tau=0.01).collect()
    assert not any({r.id_a, r.id_b} == {1, 2} for r in jac)

    # 'common' is in every doc: df-fraction pruning removes it, making
    # docs 1/3 fully orthogonal (no shared terms -> no pair at all)
    pruned = {(r.id_a, r.id_b): r.cosine
              for r in sparse_cosine_pairs(
                  df, "doc_id", "text", tau=0.0, max_df_frac=0.9).collect()}
    assert (1, 3) not in pruned and (2, 3) not in pruned
    assert pruned[(1, 2)] == 1.0
    assert (1, 3) in cos  # unpruned they DO share the stopword

    # ids >= 2^31 take the UNPACKED dot aggregation (the packed int64 pair
    # key only covers [0, 2^31)); same texts, shifted ids, same cosines
    off = 1 << 33
    big = spark.createDataFrame(
        [(i + off, t) for i, t in rows], "doc_id long, text string"
    )
    cos_big = {(r.id_a - off, r.id_b - off): r.cosine
               for r in sparse_cosine_pairs(big, "doc_id", "text", tau=0.0).collect()}
    assert cos_big == cos


@pytest.mark.parametrize("path", ["dense", "posting"])
def test_sparse_cosine_id_types(spark, monkeypatch, path):
    """Both paths (dense block matmul; posting join, forced by a 0 vocab
    bound) return ids in the input's integer type with the same pairs for
    int and long ids — packed ([0, 2^31)) and unpacked (negative) posting
    keys alike — and reject a non-integer id column up front."""
    import fink_filters_spark.operators.dedup as d

    if path == "posting":
        monkeypatch.setattr(d, "_DENSE_MAX_VOCAB", 0)
    texts = [
        "red green blue cyan common",
        "cyan blue green red common",
        "zeta eta theta iota common",
        "red green blue iota common",
    ]
    want = None
    for offset in (0, -10):
        for typ in ("int", "long"):
            df = spark.createDataFrame(
                [(i + offset, t) for i, t in enumerate(texts)], f"doc_id {typ}, text string"
            )
            spark.catalog.clearCache()
            out = d.sparse_cosine_pairs(df, "doc_id", "text", tau=0.1)
            id_type = df.schema["doc_id"].dataType
            assert [f.dataType for f in out.schema.fields[:2]] == [id_type, id_type]
            got = sorted(
                (r.id_a - offset, r.id_b - offset, r.cosine) for r in out.collect()
            )
            assert got, (offset, typ)
            assert want is None or got == want
            want = got
    words = spark.createDataFrame(
        [("a", texts[0]), ("b", texts[1])], "doc_id string, text string"
    )
    with pytest.raises(TypeError, match="must be an integer type"):
        d.sparse_cosine_pairs(words, "doc_id", "text", tau=0.1)


def test_minhash_index_bucketed_at_rest_probe_is_shuffle_free(spark, tmp_path):
    """The incremental-dedup scale story, proven on the plan: the corpus
    band index (minhash_signatures -> exploded band keys) is PERSISTED
    bucketed by band key; a new batch's probe join then shuffles only the
    (small) new side into matching buckets — the corpus side scans its
    buckets with NO exchange. This is the at-rest layout dedup_incremental
    assumes at 100 TB (index written once, probed per ingest batch)."""
    from fink_filters_spark.operators.dedup import (
        _band_key_cols, minhash_signatures,
    )
    from fink_filters_spark.sinks.storage import write_bucketed
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} common tokens here for shingles {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    sig = minhash_signatures(docs, "doc_id", "text", 3)
    bands = sig.select(
        F.col("__id").alias("corpus_id"),
        F.explode(F.array(*_band_key_cols())).alias("__bk"),
    )
    write_bucketed(bands, "t_band_index", "__bk", n_buckets=4,
                   sort_col="__bk", path=str(tmp_path / "bands"))
    idx = spark.table("t_band_index")

    new = spark.createDataFrame(
        [(100 + i, f"w{i % 7} common tokens here for shingles {i % 3}") for i in range(5)],
        "doc_id long, text string",
    )
    new_bands = minhash_signatures(new, "doc_id", "text", 3).select(
        F.col("__id").alias("new_id"),
        F.explode(F.array(*_band_key_cols())).alias("__bk"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = idx.join(new_bands.repartition(4, "__bk"), "__bk")
        n = probe.select("new_id", "corpus_id").distinct().count()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert n > 0  # replicated content shares bands across batches
        # the INDEX side streams from its buckets without an exchange:
        # exactly one hashpartitioning exchange (the new batch side)
        import re
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_band_index")


def test_split_leakage_flags_known_clone(spark):
    """A test-split doc (id%10>=8) cloning a train doc must be reported
    with jaccard 1.0 and the right best_train_id; unrelated test docs
    must not appear."""
    from unittest import mock

    import fink_filters_spark.queries.dedup as dq

    clone = "alpha beta gamma delta epsilon zeta"
    rows = [
        (8, clone),                       # test (8 % 10 >= 8)
        (10, clone),                      # train clone source
        (20, clone + " eta"),             # train near-dup (high jaccard)
        (18, "totally different words nothing shared here at all"),  # test, clean
        (31, "another unrelated train document with its own tokens"),
    ]
    toy = spark.createDataFrame(rows, "doc_id long, text string")
    with mock.patch.object(dq, "load_table", lambda s, d, t: toy):
        out = {r["test_id"]: r for r in dq.q_dedup_split_leakage(spark, "x").collect()}
    assert set(out) == {8}
    assert out[8]["best_train_id"] == 10
    assert out[8]["best_jaccard_e6"] == 1000000
    assert out[8]["n_train_dups"] == 2  # ids 10 and 20 both >= tau


def test_shingle_kernel_unigrams_and_tab_padding(spark):
    """Round-7 review: the Arrow shingle kernel (a) crashed on n=1
    (negative slice wh[:-0] is empty) and (b) tokenized with Python
    strip() — ALL whitespace — where the native path and the oracle trim
    spaces only, shifting shingle windows on tab/newline-padded text.
    Both paths must agree shingle-set-for-shingle-set."""
    from fink_filters_spark.functions.text import combine_word_hashes, word_hashes
    from fink_filters_spark.operators.dedup import _hashed_shingled

    pdf_rows = [
        (1, "alpha beta gamma"),
        (2, "\talpha beta gamma"),      # tab-padded: trim() keeps the tab
        (3, "alpha beta gamma \n"),
        (4, "solo"),
    ]
    df = spark.createDataFrame(pdf_rows, "doc_id long, text string")
    for n in (1, 2, 3):
        kernel = {
            r["__id"]: sorted(r["__sh"])
            for r in _hashed_shingled(df, "doc_id", "text", n).collect()
        }
        native = {
            r["doc_id"]: sorted(r["sh"])
            for r in df.select(
                "doc_id",
                combine_word_hashes(word_hashes("text"), n).alias("sh"),
            ).collect()
            if r["sh"]
        }
        assert kernel == native, f"n={n}"


@pytest.mark.parametrize("id_type", ["int", "long", "string"])
def test_shingle_family_any_id_type(spark, id_type, monkeypatch):
    """The shingle, MinHash and SimHash kernels pass the id column through
    in its own type: every pair operator over them returns the pairs of
    the long-id run mapped through the id map (zero-padded strings keep
    the id order), with id_a/id_b in the input's type, on both collapse
    paths (forced through the probe's threshold)."""
    import fink_filters_spark.operators.dedup as d

    base = "the quick brown fox jumps over the lazy dog tonight and runs away"
    texts = (
        [base] * 3
        + [base + f" trailing variant {i % 2}" for i in range(4)]
        + [f"unique document {i} with words {i * 7} {i * 13} only" for i in range(5)]
    )
    to_id = (lambda i: f"d{i:03d}") if id_type == "string" else int
    long_df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    df = spark.createDataFrame(
        [(to_id(i), t) for i, t in enumerate(texts)], f"doc_id {id_type}, text string"
    )
    def forced(op, frac):
        def run(t):
            monkeypatch.setattr(d, "COLLAPSE_DUP_FRAC", frac)
            return op(t, "doc_id", "text", 3, 0.5)
        return run

    ops = {
        f"{op.__name__}[{collapse}]": forced(op, 0.0 if collapse else 2.0)
        for op in (d.jaccard_pairs, d.containment_pairs, d.minhash_lsh_pairs)
        for collapse in (True, False)
    }
    ops["simhash_pairs"] = lambda t: d.simhash_pairs(t, "doc_id", "text")
    for name, op in ops.items():
        want = [(to_id(a), to_id(b), v) for a, b, v in sorted(op(long_df).collect())]
        out = op(df)
        got = sorted(tuple(r) for r in out.collect())
        spark.catalog.clearCache()
        assert got == want and want, name
        assert out.schema["id_a"].dataType == df.schema["doc_id"].dataType, name
        assert out.schema["id_b"].dataType == df.schema["doc_id"].dataType, name


# ---- winnowing (MOSS) fingerprints ------------------------------------------

def _py_winnow(text: str, k: int = 3, w: int = 4):
    """Pure-Python replica of winnowing_fingerprints for one document:
    standard winnowing (rightmost-min per window, the paper's Fig. 5 tie rule) over the engine's word
    k-gram hash scheme. Returns sorted (pos, fp) with 1-based gram pos."""
    P, B, WB = 66571993087, 31, 37
    toks = text.strip().lower().split()
    wh = []
    for t in toks:
        h = 0
        for c in t:
            h = (h * B + ord(c)) % P
        wh.append(h)
    m = len(wh) - k + 1
    if m < 1:
        return []
    grams = []
    for i in range(m):
        h = wh[i]
        for j in range(1, k):
            h = (h * WB + wh[i + j]) % P
        grams.append(h)
    wl = min(w, len(grams))
    sel = set()
    for p in range(len(grams) - wl + 1):
        best, bp = None, None
        for j in range(wl):
            v = grams[p + j]
            if best is None or v <= best:  # <= : rightmost tie wins
                best, bp = v, p + j
        sel.add((bp + 1, best))
    return sorted(sel)


def test_winnowing_fingerprints_match_python_replica(corpus):
    from fink_filters_spark.operators.dedup import winnowing_fingerprints

    df, pdf = corpus
    got = {}
    for r in winnowing_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["fp"]))
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        assert sorted(got.get(doc_id, [])) == _py_winnow(text), f"doc {doc_id}"


def test_winnowing_rightmost_tie_on_constant_doc(spark):
    # 8 identical tokens -> 6 equal grams; every window's min is its
    # RIGHTMOST element, so selections are gram positions {4, 5, 6}
    from fink_filters_spark.operators.dedup import winnowing_fingerprints

    df = spark.createDataFrame([(1, " ".join(["x"] * 8))], "doc_id long, text string")
    rows = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4).collect()
    assert sorted(r["pos"] for r in rows) == [4, 5, 6]
    assert len({r["fp"] for r in rows}) == 1


def test_winnowing_short_and_empty_docs(spark):
    from fink_filters_spark.operators.dedup import winnowing_fingerprints

    df = spark.createDataFrame(
        [
            (1, "a b c d"),   # 2 grams < w -> ONE truncated window -> 1 pick
            (2, "a b"),       # < k tokens -> no grams -> no rows
            (3, ""),          # empty -> no rows
        ],
        "doc_id long, text string",
    )
    rows = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc.get(1, [])) == 1
    assert 2 not in by_doc and 3 not in by_doc
    assert [(r["pos"], r["fp"]) for r in by_doc[1]] == _py_winnow("a b c d")


def test_winnowing_guarantee_shared_run(spark):
    # the winnowing guarantee: a shared token run of >= w+k-1 tokens
    # (here 6) implies >= 1 shared fingerprint VALUE
    from fink_filters_spark.operators.dedup import winnowing_pairs

    run = "r1 r2 r3 r4 r5 r6"
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 a4 {run} a5 a6 a7"),
            (2, f"b1 b2 b3 {run} b4 b5 b6 b7"),
        ],
        "doc_id long, text string",
    )
    pairs = winnowing_pairs(df, "doc_id", "text", min_shared=1).collect()
    assert len(pairs) == 1 and pairs[0]["shared_fps"] >= 1


def test_winnowing_pairs_planted_dups(corpus):
    from fink_filters_spark.operators.dedup import winnowing_pairs

    df, pdf = corpus
    got = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in winnowing_pairs(df, "doc_id", "text", min_shared=2).collect()
    }
    # planted near-dups all surface, the exact duplicate with the most overlap
    assert (0, 80) in got and (1, 81) in got and (2, 82) in got
    assert got[(1, 81)] == max(got.values())


def test_winnowing_pairs_max_df_prunes_boilerplate(spark):
    from fink_filters_spark.operators.dedup import winnowing_pairs

    boiler = " ".join(f"c{i}" for i in range(12))
    uniq = "u1 u2 u3 u4 u5 u6 u7 u8"
    rows = [(i, boiler) for i in range(5)] + [(10, uniq), (11, uniq)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = winnowing_pairs(df, "doc_id", "text", min_shared=1).collect()
    assert {(r["id_a"], r["id_b"]) for r in full} >= {(10, 11), (0, 1)}
    pruned = winnowing_pairs(df, "doc_id", "text", min_shared=1, max_df=4).collect()
    # df=5 boilerplate fingerprints are dropped; the df=2 pair survives
    assert {(r["id_a"], r["id_b"]) for r in pruned} == {(10, 11)}


def test_winnowing_overlap_spans_max_df_gates_span_postings(spark):
    """The span stage applies the SAME document-frequency purge as the
    pair stage: with max_df set, no emitted span row may carry a
    fingerprint whose df exceeds the gate — otherwise the span join
    re-pays the boilerplate cost the pair purge removed."""
    from fink_filters_spark.operators.dedup import (
        winnowing_fingerprints, winnowing_overlap_spans,
    )

    boiler = " ".join(f"c{i}" for i in range(12))
    uniq = "u1 u2 u3 u4 u5 u6 u7 u8"
    # docs 10/11 share boilerplate AND a unique run, so their pair survives
    # the max_df gate through the unique fingerprints alone
    rows = [(i, boiler) for i in range(5)] + [
        (10, boiler + " " + uniq),
        (11, boiler + " " + uniq),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, "doc_id", "text").select("doc_id", "fp").distinct()
    dfreq = {r["fp"]: r["n"] for r in fps.groupBy("fp").agg(
        __import__("pyspark").sql.functions.count("*").alias("n")).collect()}
    spans = winnowing_overlap_spans(
        df, "doc_id", "text", min_shared=1, max_df=4
    ).collect()
    assert spans, "gated pair lost its spans entirely"
    assert all(r["id_a"] == 10 and r["id_b"] == 11 for r in spans)
    assert all(dfreq[r["fp"]] <= 4 for r in spans), "boilerplate fp leaked into spans"
    # ungated call still reports the boilerplate overlap for comparison
    full = winnowing_overlap_spans(df, "doc_id", "text", min_shared=1).collect()
    assert any(dfreq[r["fp"]] > 4 for r in full if r["id_a"] == 10)


def test_winnowing_overlap_spans_localize_planted_run(spark):
    """The MOSS report stage localizes the overlap: for two docs sharing
    one long planted run, every emitted (pos_a, pos_b) pair from the run's
    fingerprints has a CONSTANT offset equal to the run's displacement
    between the two documents."""
    from fink_filters_spark.operators.dedup import winnowing_overlap_spans

    run = " ".join(f"r{i}" for i in range(12))
    df = spark.createDataFrame(
        [
            (1, "a1 a2 a3 a4 " + run),   # run starts at token 5 -> gram 5
            (2, "b1 b2 " + run),          # run starts at token 3 -> gram 3
        ],
        "doc_id long, text string",
    )
    rows = winnowing_overlap_spans(df, "doc_id", "text", min_shared=1).collect()
    assert rows, "planted run produced no overlap spans"
    offsets = {r["pos_a"] - r["pos_b"] for r in rows}
    assert offsets == {2}, offsets  # 5 - 3: the run's displacement
    assert all(r["id_a"] == 1 and r["id_b"] == 2 for r in rows)


def test_winnowing_kernel_matches_native_hof_path(spark):
    """The Arrow winnowing kernel and the pure-Catalyst HOF reference path
    must be bit-identical — positions AND fingerprint integers — including
    non-ASCII tokens, tab/newline padding, repeated grams, and short docs."""
    from fink_filters_spark.operators.dedup import (
        winnowing_fingerprints, winnowing_fingerprints_native,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog the quick brown"),
        (2, "héllo wörld héllo wörld héllo wörld héllo wörld"),
        (3, "\tpadded   with \n whitespace a b c d e f g\n"),
        (4, "x x x x x x x x"),
        (5, "a b c d"),
        (6, "a b"),
        (7, ""),
        (8, "日本語 テスト 日本語 テスト 日本語 テスト 日本語"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k, w in ((3, 4), (2, 5), (1, 3)):
        got = sorted(
            (r["doc_id"], r["pos"], r["fp"])
            for r in winnowing_fingerprints(df, "doc_id", "text", k=k, w=w).collect()
        )
        want = sorted(
            (r["doc_id"], r["pos"], r["fp"])
            for r in winnowing_fingerprints_native(
                df, "doc_id", "text", k=k, w=w
            ).collect()
        )
        assert got == want and got, (k, w)


def test_precomputed_signature_sharing_bit_identical(corpus, monkeypatch):
    """The ``shingled=``/``signatures=`` seams (one fused kernel pass shared
    by the exact and approximate pipelines, as q_dedup_lsh_recall uses
    them) must be bit-identical to the per-operator kernels — in BOTH
    collapse branches: a table with the ``__k`` key against a corpus the
    probe collapses, a keyless one against a corpus it does not."""
    import fink_filters_spark.operators.dedup as d

    df, _pdf = corpus
    for collapse in (False, True):
        monkeypatch.setattr(d, "COLLAPSE_DUP_FRAC", 0.0 if collapse else 2.0)
        sig = d.minhash_signatures(
            df, "doc_id", "text", 3, with_key=collapse
        ).cache()
        try:
            want_j = sorted(
                d.jaccard_pairs(
                    df, "doc_id", "text", n=3, tau=0.5, max_df_frac=None,
                ).collect()
            )
            got_j = sorted(
                d.jaccard_pairs(
                    df, "doc_id", "text", n=3, tau=0.5, max_df_frac=None,
                    shingled=sig,
                ).collect()
            )
            assert got_j == want_j
            want_m = sorted(
                d.minhash_lsh_pairs(df, "doc_id", "text", n=3, tau=0.5).collect()
            )
            got_m = sorted(
                d.minhash_lsh_pairs(
                    df, "doc_id", "text", n=3, tau=0.5, signatures=sig,
                ).collect()
            )
            assert got_m == want_m
        finally:
            sig.unpersist()


def test_winnowing_pairs_precomputed_fingerprints_bit_identical(corpus):
    """The pair join over a caller-cached fingerprint table (the seam
    winnowing_overlap_spans uses) must equal winnowing_pairs, with and
    without the df purge."""
    from fink_filters_spark.operators.dedup import (
        _winnow_pair_join, _winnow_postings, winnowing_fingerprints,
        winnowing_pairs,
    )

    df, _pdf = corpus
    fps = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4).cache()
    try:
        for max_df in (None, 5):
            want = sorted(
                winnowing_pairs(df, "doc_id", "text", k=3, w=4, min_shared=2,
                                max_df=max_df).collect()
            )
            postings, _ = _winnow_postings(fps, "doc_id", max_df)
            got = sorted(_winnow_pair_join(postings, "doc_id", 2).collect())
            assert got == want and want, max_df
    finally:
        fps.unpersist()
