"""Output checks against independent references.

Each check takes plain Python/numpy values (collected results and the
generator's ground truth) and returns a list of failure messages; an
empty list means the output is correct. No check calls the package.
"""

from __future__ import annotations

import numpy as np

# ------------------------------------------------------------ alert_stream


def batch_ids(done: list[int]) -> list[str]:
    """Completed micro-batches are 0..n-1: none lost, none repeated."""
    if not done:
        return ["no micro-batch completed"]
    if done != list(range(len(done))):
        return [f"micro-batch ids not contiguous from 0: {done[:10]}..."]
    return []


def topic_counts(got: dict[str, int], ref: dict[str, int]) -> list[str]:
    """Per-topic counts summed over micro-batches equal a one-pass batch
    report over the same files."""
    return [
        f"topic {t}: streamed {got.get(t)} != batch {ref[t]}"
        for t in sorted(ref) if got.get(t) != ref[t]
    ]


def delivered(offered: list[int], sent: list[int], unique_sent: int, cap: int) -> list[str]:
    """The sink delivered what was offered to it, up to its per-batch cap,
    each alert once."""
    errs = []
    for b, (o, s) in enumerate(zip(offered, sent)):
        if s != min(o, cap):
            errs.append(f"batch {b}: sent {s}, offered {o} (cap {cap})")
    if unique_sent != sum(sent):
        errs.append(f"{sum(sent) - unique_sent} notifications duplicated")
    return errs


# ------------------------------------------------------------- alert_night


def _sep_deg(ra1, dec1, ra2, dec2):
    r1, d1, r2, d2 = map(np.radians, (ra1, dec1, ra2, dec2))
    h = np.sin((d2 - d1) / 2) ** 2 + np.cos(d1) * np.cos(d2) * np.sin((r2 - r1) / 2) ** 2
    return np.degrees(2 * np.arcsin(np.minimum(1.0, np.sqrt(h))))


def crossmatch_sample(got: dict, ids, ra, dec, catalog: dict, radius: float,
                      sample: int = 200) -> list[str]:
    """Nearest catalog match within ``radius`` by numpy brute force on a
    fixed sample of alerts (every k-th id), against ``got``
    ({candid: (cat_id, sep_deg)}). Borderline cases (a match within 1e-9
    of the radius, or a tie for nearest) are skipped."""
    errs = []
    step = max(len(ids) // sample, 1)
    for i in range(0, len(ids), step):
        sep = _sep_deg(ra[i], dec[i], catalog["cat_ra"], catalog["cat_dec"])
        order = np.lexsort((catalog["cat_id"], sep))
        best = order[0]
        if abs(sep[best] - radius) < 1e-9:
            continue
        if len(order) > 1 and abs(sep[order[1]] - sep[best]) < 1e-12:
            continue
        want = int(catalog["cat_id"][best]) if sep[best] < radius else None
        have = got.get(int(ids[i]))
        have_id = None if have is None else int(have[0])
        if have_id != want:
            errs.append(f"candid {ids[i]}: nearest {have_id}, brute force {want}")
    return errs


def archive_rows(read_back: int, n_input: int) -> list[str]:
    return [] if read_back == n_input else [f"archive holds {read_back} rows, input {n_input}"]


def topk_invariants(selected: list[tuple], objects: list[str], scores, k: int,
                    rel_err: float = 0.05) -> list[str]:
    """Anomaly top-k: k distinct objects, every selected score at most the
    night's median (within approxQuantile's rank error), and no object
    whose best score beats the worst selected one left out."""
    errs = []
    best: dict[str, float] = {}
    for o, s in zip(objects, scores):
        if o not in best or s < best[o]:
            best[o] = float(s)
    if len(selected) != min(k, len(best)):
        errs.append(f"top-k returned {len(selected)} rows, want {min(k, len(best))}")
    names = [o for o, _ in selected]
    if len(set(names)) != len(names):
        errs.append("top-k repeats an object")
    hi = float(np.quantile(scores, 0.5 + rel_err))
    if any(s > hi for _, s in selected):
        errs.append(f"a top-k score exceeds the night median bound {hi:.4f}")
    if selected:
        worst = max(s for _, s in selected)
        missing = [o for o, s in best.items() if s < worst and o not in set(names)]
        if missing:
            errs.append(f"{len(missing)} objects beat the top-k cut but were not selected")
    for o, s in selected:
        if best.get(o) != s:
            errs.append(f"top-k row for {o} is not its best score")
            break
    return errs


def state_totals(state: tuple, objects: list[str]) -> list[str]:
    """Merged per-object state has one row per object and counts every alert."""
    n_obj, n_rows = state
    want = (len(set(objects)), len(objects))
    return [] if (n_obj, n_rows) == want else [f"state (objects, rows) {state} != {want}"]


# --------------------------------------------------------- corpus_curation


def exact_dedup(got: list[tuple], docs: list[tuple]) -> list[str]:
    """``dedup_exact`` equals a pandas groupby on lower(trim(text)):
    one (min id, group size) per normalized text."""
    import pandas as pd

    if not docs:
        return [] if not got else ["dedup_exact returned groups for no input"]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    norm = pdf["text"].str.strip(" ").str.lower()
    ref = pdf.groupby(norm)["doc_id"].agg(["min", "size"])
    want = sorted(zip(ref["min"].astype(int), ref["size"].astype(int)))
    have = sorted((int(a), int(b)) for a, b in got)
    return [] if have == want else [f"dedup_exact: {len(have)} groups differ from pandas' {len(want)}"]


def near_dup_recall(pairs: list[tuple], injected: list[tuple], present: set) -> list[str]:
    """Every injected near-duplicate pair whose two documents reached the
    pair step is found."""
    got = set(pairs)
    lost = [p for p in injected if p[0] in present and p[1] in present and p not in got]
    return [f"{len(lost)} injected near-duplicate pairs not found, e.g. {lost[0]}"] if lost else []


def component_labels(labels: dict, pairs: list[tuple]) -> list[str]:
    """Component label of every node equals the minimum id of its
    component, computed by union-find over the pair list."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in list(parent)}
    if set(labels) != set(want):
        return [f"components cover {len(labels)} nodes, pairs touch {len(want)}"]
    bad = [n for n in want if labels[n] != want[n]]
    return [f"{len(bad)} component labels are not their component's min id"] if bad else []


def contamination_removed(final_ids: list[int], contaminated: list[int]) -> list[str]:
    left = sorted(set(final_ids) & set(contaminated))
    return [f"{len(left)} contaminated documents survived, e.g. {left[0]}"] if left else []
