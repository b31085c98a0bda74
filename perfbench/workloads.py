"""The three benchmark workloads.

Each workload writes its seeded inputs with pyarrow (``generate``), then,
inside a Spark session, runs warm-up passes (``warm``) and a timed window
(``measure``). Every step of a pass goes through ``Steps.run``, which in a
traced pass wraps the call in a span and a Spark job group and always
materializes the step's result, so untraced and traced passes do the same
work. ``check`` compares the last pass's outputs with independent
references (see ``checks.py``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field
from functools import reduce

import gen
import checks
from spans import Tracer, group_counts, tree_cpu_s

# ZTF topics whose columns a flattened, classified ZTF_ALERT_SCHEMA packet
# carries. Fixed here, not discovered, so the workload stays the same when
# the package gains topics.
ZTF_TOPICS = [
    "ztf.blazar", "ztf.blazar_high_state", "ztf.blazar_low_state",
    "ztf.early_kn_candidates", "ztf.early_sn_candidates", "ztf.example",
    "ztf.gaia_dr3_candidates", "ztf.kn_candidates",
    "ztf.microlensing_candidates", "ztf.quality_cuts", "ztf.rrlyr",
    "ztf.simbad_candidates", "ztf.simbad_grav_candidates",
    "ztf.sn_candidates", "ztf.snialike", "ztf.sso_fink_candidates",
    "ztf.sso_ztf_candidates", "ztf.tns_match", "ztf.tracklet_candidates",
    "ztf.unknowns", "ztf.vast_supernovae", "ztf.vast_supernovae_candidates",
    "ztf.vra", "ztf.yso_candidates",
]


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


@dataclass
class Window:
    """What a timed window measured."""

    units: list[float] = field(default_factory=list)  # seconds per unit
    # per unit: wall seconds from the previous unit's end to its end, and
    # process-tree CPU seconds over the same interval
    intervals: list[float] = field(default_factory=list)
    interval_cpu: list[float] = field(default_factory=list)
    per_unit: int = 0  # items per unit
    items: int = 0
    cpu_s: float = 0.0  # process-tree CPU over the window
    spanned: int = 0  # units the window's spans cover (per-unit self times)
    attempted: int = 0
    failed: int = 0


class Steps:
    """Runs the steps of one pass; in a traced pass each step gets a span
    and a job group ``<step>#<pass>`` whose scheduler counts are read
    after the window."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.groups: dict[str, list[str]] = {}
        self.pass_no = 0

    def run(self, name: str, layer: str, fn):
        if self.tracer.enabled:
            group = f"{name}#{self.pass_no}"
            self.groups.setdefault(name, []).append(group)
            self.sc.setJobGroup(group, name)
            with self.tracer.span(name, layer):
                out = fn()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            return out
        return fn()

    def counts(self) -> dict[str, dict[str, float]]:
        """Per step: jobs, stages, tasks and failed tasks per pass."""
        out = {}
        for name, groups in self.groups.items():
            tot: dict[str, float] = {}
            for g in groups:
                for k, v in group_counts(self.sc, g).items():
                    tot[k] = tot.get(k, 0) + v
            out[name] = {k: v / len(groups) for k, v in tot.items()}
        return out


class BatchWorkload:
    """A workload whose unit is one full pass over its inputs."""

    name = ""
    items_per_pass = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.last: dict = {}

    def run_pass(self, spark, steps: Steps) -> dict:
        raise NotImplementedError

    def warm(self, spark, tracer: Tracer) -> None:
        """One full untimed pass over the measured input."""
        self.run_pass(spark, Steps(spark, tracer))

    def warm_unit(self, spark) -> None:
        """The light warm-up that ends each set-up."""
        raise NotImplementedError

    def measure(self, spark, seconds: float, steps: Steps) -> Window:
        """Whole passes while one more, as long as the last, still ends
        within ``seconds``; at least one."""
        w = Window(per_unit=self.items_per_pass)
        t_start = time.perf_counter()
        cpu0 = tree_cpu_s()
        while not w.units or time.perf_counter() - t_start + w.units[-1] <= seconds:
            t0, c0 = time.perf_counter(), tree_cpu_s()
            w.attempted += 1
            try:
                with steps.tracer.span("pass", "bench"):
                    self.last = self.run_pass(spark, steps)
            except Exception:  # a raised pass counts as a failed operation
                traceback.print_exc()
                w.failed += 1
                if w.failed >= 3:
                    break
                continue
            finally:
                steps.pass_no += 1
            w.units.append(time.perf_counter() - t0)
            w.interval_cpu.append(tree_cpu_s() - c0)
            w.items += self.items_per_pass
        w.intervals = list(w.units)
        w.cpu_s = tree_cpu_s() - cpu0
        w.spanned = w.attempted
        return w


# ------------------------------------------------------------ curation steps
# The recipe's steps, shared by corpus_curation (the whole recipe) and
# alert_night (mixture sample, quality, exact dedup, components, repetition
# gate). Each records its output in ``out`` for the checks.

CORPUS_DOCS = 40  # documents of alert_night's corpus


def sample_and_filter(spark, steps: Steps, root: str, out: dict):
    """Mixture sample -> quality filter over the corpus under ``root``;
    returns the input frame and the quality survivors."""
    from fink_filters_spark.functions.text import punct_ratio, token_count
    from fink_filters_spark.operators.sample import mixture_sample

    docs = spark.read.parquet(f"{root}/documents.parquet")
    rates = spark.createDataFrame(
        [("src0", 1000), ("src1", 900)], "source string, rate_permille int"
    )
    mixed = mixture_sample(docs, rates, key="doc_id", source_col="source",
                           default_permille=800)
    out["mixed"] = steps.run("mixture", "operators.sample", mixed.count)

    quality = mixed.filter((token_count("text") >= 5) & (punct_ratio("text") < 0.3))
    out["quality"] = [
        (r.doc_id, r.text)
        for r in steps.run("quality", "functions.text",
                           lambda: quality.select("doc_id", "text").collect())
    ]
    return docs, quality


def exact_groups(steps: Steps, quality, out: dict) -> None:
    from fink_filters_spark.operators.dedup import dedup_exact

    out["exact"] = [
        (r.survivor_id, r.n_dups)
        for r in steps.run("exact", "operators.dedup",
                           lambda: dedup_exact(quality, "text", "doc_id").collect())
    ]


def drop_components(spark, steps: Steps, quality, out: dict):
    """``connected_components`` over ``out["pairs"]``; returns the quality
    frame without the non-minimum member of each component."""
    from pyspark.sql import functions as F

    from fink_filters_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(out["pairs"], "id_a long, id_b long")
    out["components"] = {
        r.node: r.component
        for r in steps.run("components", "operators.dedup",
                           lambda: connected_components(pairs).collect())
    }
    drop = [n for n, c in out["components"].items() if n != c]
    return quality.filter(~F.col("doc_id").isin(drop)) if drop else quality


def repetition_gate(steps: Steps, clean, out: dict):
    """Drops documents whose word 3-grams repeat (fewer than 70% distinct)."""
    from pyspark.sql import functions as F

    from fink_filters_spark.functions.text import combine_word_hashes, word_hashes

    def repetitive():
        wh = clean.select("doc_id", word_hashes("text").alias("__wh"))
        grams = wh.select(
            "doc_id", combine_word_hashes("__wh", 3, distinct=False).alias("__g")
        )
        rep = grams.filter(
            F.size(F.array_distinct("__g")).cast("double")
            < F.size("__g").cast("double") * 0.7
        ).select("doc_id")
        return [r.doc_id for r in rep.collect()]

    out["repetitive"] = steps.run("repetition", "functions.text", repetitive)
    return clean.filter(~F.col("doc_id").isin(out["repetitive"])) if out["repetitive"] else clean


# ------------------------------------------------------------- alert_night

class AlertNight(BatchWorkload):
    """One night: nightly report, crossmatch, multiband fits, anomaly top-k,
    archive write and the per-object state update, in sequence, then
    curation steps over a small corpus: mixture sample, quality, exact
    dedup, ``connected_components`` over the corpus's injected
    near-duplicate pairs, repetition gate."""

    name = "alert_night"
    RADIUS_DEG = 0.05
    TOP_K = 10

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        super().__init__(work, seed)
        self.n_files = 4
        self.per_file = max(int(200 * scale), 25)
        self.n_alerts = self.items_per_pass = self.per_file * self.n_files
        self.n_catalog = max(int(20_000 * scale), 200)
        self.n_docs = max(int(CORPUS_DOCS * scale), 40)

    def generate(self) -> None:
        import pyarrow.parquet as pq

        for src, per, base in (("main", self.per_file, 0), ("warm", 50, 50)):
            os.makedirs(f"{self.work}/{src}", exist_ok=True)
            for i in range(self.n_files):
                t = gen.alert_table(self.seed * 7919 + base + i, per, first_candid=i * per)
                pq.write_table(t, f"{self.work}/{src}/part-{i}.parquet")
        cat = gen.catalog_table(self.seed * 7919 + 99, self.n_catalog)
        pq.write_table(cat, f"{self.work}/catalog.parquet")
        self.catalog = {c: cat.column(c).to_numpy() for c in ("cat_id", "cat_ra", "cat_dec")}
        self.corpus = gen.corpus(self.seed * 7919 + 98, self.n_docs)
        os.makedirs(f"{self.work}/corpus")
        pq.write_table(self.corpus.docs, f"{self.work}/corpus/documents.parquet")

    def _night(self, spark, src: str):
        from fink_filters_spark.filters.classification import extract_fink_classification
        from fink_filters_spark.schemas import ZTF_ALERT_SCHEMA, flatten_ztf

        return extract_fink_classification(
            flatten_ztf(spark.read.schema(ZTF_ALERT_SCHEMA).parquet(f"{self.work}/{src}"))
        )

    def warm_unit(self, spark) -> None:
        from fink_filters_spark.programs.nightly import nightly_report

        nightly_report(self._night(spark, "warm"), ZTF_TOPICS)

    def run_pass(self, spark, steps: Steps) -> dict:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from fink_filters_spark.operators.crossmatch import crossmatch
        from fink_filters_spark.operators.fit import rainbow_multiband_fit_per_key
        from fink_filters_spark.programs.anomaly import anomaly_notification
        from fink_filters_spark.programs.nightly import nightly_report, nightly_state_update
        from fink_filters_spark.sinks.storage import write_partitioned
        from fink_filters_spark.streaming import read_state

        out: dict = {}
        df = self._night(spark, "main")
        out["report"] = steps.run(
            "nightly_report", "programs", lambda: nightly_report(df, ZTF_TOPICS)
        )

        cat = spark.read.parquet(f"{self.work}/catalog.parquet")
        xm = crossmatch(
            df.select("candid", "ra", "dec"), cat, "candid", self.RADIUS_DEG,
            how="nearest", tiebreak="cat_id",
        )
        out["xmatch"] = {
            r.candid: (r.cat_id, r.sep_deg)
            for r in steps.run("crossmatch", "operators.crossmatch",
                               lambda: xm.select("candid", "cat_id", "sep_deg").collect())
        }

        hist = df.select(
            F.col("candid").alias("user_id"), F.explode("prv_candidates").alias("h")
        ).select(
            "user_id",
            F.col("h.jd").alias("xh"),
            F.pow(F.lit(10.0), (F.lit(23.9) - F.col("h.magpsf")) / 2.5).alias("v"),
            F.when(F.col("h.fid") == 1, "g").otherwise("r").alias("band"),
        )
        fits = rainbow_multiband_fit_per_key(hist, gen.BAND_WAVE_AA)
        out["fits"] = steps.run(
            "fit", "operators.fit",
            lambda: fits.select("user_id", "r_chisq").collect(),
        )

        out["anomaly"] = [
            (r.objectId, r.anomaly_score)
            for r in steps.run(
                "anomaly", "programs",
                lambda: anomaly_notification(
                    df.select("objectId", "candid", "anomaly_score"), threshold=self.TOP_K
                ).select("objectId", "anomaly_score").collect(),
            )
        ]

        archive = f"{self.work}/archive"
        steps.run("archive", "sinks",
                  lambda: write_partitioned(df, archive, ["fid"], files_per_partition=4))
        files = [os.path.join(d, f) for d, _, fs in os.walk(archive)
                 for f in fs if f.endswith(".parquet")]
        out["archive_rows"] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        out["archive_bytes"] = sum(os.path.getsize(f) for f in files)

        state = f"{self.work}/state"
        steps.run(
            "state_update", "programs",
            lambda: nightly_state_update(
                df, "n0", state, ["objectId"],
                lambda: {"mag_mmag": (F.col("magpsf") * 1000).cast("long")},
            ),
        )
        row = steps.run(
            "read_state", "operators.incremental",
            lambda: read_state(spark, state, ["objectId"]).agg(
                F.count(F.lit(1)).alias("objects"),
                F.sum("mag_mmag_count").alias("rows"),
            ).first(),
        )
        out["state"] = (row.objects, row.rows)
        _, quality = sample_and_filter(spark, steps, f"{self.work}/corpus", out)
        exact_groups(steps, quality, out)
        kept = {i for i, _ in out["quality"]}
        out["pairs"] = [p for p in self.corpus.near_dup_pairs if kept.issuperset(p)]
        repetition_gate(steps, drop_components(spark, steps, quality, out), out)
        spark.catalog.clearCache()
        return out

    def check(self, spark) -> list[str]:
        import pyarrow.parquet as pq

        t = pq.read_table(f"{self.work}/main",
                          columns=["objectId", "candid", "candidate", "anomaly_score"])
        cand = t.column("candidate").combine_chunks()
        ids = t.column("candid").to_numpy()
        ra = cand.field("ra").to_numpy()
        dec = cand.field("dec").to_numpy()
        objs = t.column("objectId").to_pylist()
        scores = t.column("anomaly_score").to_numpy()
        out = self.last
        errs = checks.crossmatch_sample(
            out["xmatch"], ids, ra, dec, self.catalog, self.RADIUS_DEG, sample=200
        )
        errs += checks.archive_rows(out["archive_rows"], len(ids))
        errs += checks.topk_invariants(out["anomaly"], objs, scores, self.TOP_K)
        errs += checks.state_totals(out["state"], objs)
        errs += checks.exact_dedup(out["exact"], out["quality"])
        errs += checks.component_labels(out["components"], out["pairs"])
        return errs

    def layer_metrics(self) -> dict[str, float]:
        out = self.last
        fits = out["fits"]
        return {
            "filters.topics": len(ZTF_TOPICS),
            "filters.selected": sum(out["report"].values()),
            "crossmatch.pairs": len(out["xmatch"]),
            "crossmatch.matched_frac": len(out["xmatch"]) / self.n_alerts,
            "fit.objects": len(fits),
            "fit.converged_frac": (
                sum(r.r_chisq is not None for r in fits) / len(fits) if fits else 0.0
            ),
            "sinks.archive_bytes": out["archive_bytes"],
            "dedup.components": len(set(out["components"].values())),
        }


# --------------------------------------------------------- corpus_curation

class CorpusCuration(BatchWorkload):
    """The ``examples/curate_corpus.py`` recipe over a seeded corpus."""

    name = "corpus_curation"

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        super().__init__(work, seed)
        self.n_docs = self.items_per_pass = max(int(300 * scale), 100)

    def generate(self) -> None:
        import pyarrow.parquet as pq

        for src, n, base in (("main", self.n_docs, 1), ("warm", 100, 2)):
            c = gen.corpus(self.seed * 31337 + base, n)
            os.makedirs(f"{self.work}/{src}")
            pq.write_table(c.docs, f"{self.work}/{src}/documents.parquet")
            pq.write_table(c.embeddings, f"{self.work}/{src}/embeddings.parquet")
            if src == "main":
                self.corpus = c

    def warm_unit(self, spark) -> None:
        from fink_filters_spark.operators.dedup import dedup_exact

        docs = spark.read.parquet(f"{self.work}/warm/documents.parquet")
        dedup_exact(docs, "text", "doc_id").collect()

    def run_pass(self, spark, steps: Steps) -> dict:
        from pyspark.sql import functions as F

        from fink_filters_spark.functions.text import pii_counts
        from fink_filters_spark.operators.dedup import (
            contamination_fraction, decontaminate, duplicated_spans, jaccard_pairs,
            semantic_dedup,
        )

        out: dict = {}
        docs, quality = sample_and_filter(spark, steps, f"{self.work}/main", out)
        exact_groups(steps, quality, out)
        out["pairs"] = [
            (r.id_a, r.id_b)
            for r in steps.run("jaccard_pairs", "operators.dedup",
                               lambda: jaccard_pairs(quality, "doc_id", "text", n=3, tau=0.5)
                               .select("id_a", "id_b").collect())
        ]
        curated = drop_components(spark, steps, quality, out)

        pii_total = reduce(lambda a, b: a + b, pii_counts("text").values())
        clean = curated.filter(pii_total == 0)
        out["pii_kept"] = steps.run("pii", "functions.text", clean.count)
        clean = repetition_gate(steps, clean, out)

        em = spark.read.parquet(f"{self.work}/main/embeddings.parquet")
        cents = em.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
        )
        sem_drop = steps.run(
            "semantic", "operators.dedup",
            lambda: [r.vec_id for r in semantic_dedup(em, cents, tau=0.98)
                     .filter(F.col("kept") == 0).select("vec_id").collect()],
        )
        out["semantic_dropped"] = len(sem_drop)
        if sem_drop:
            clean = clean.filter(~F.col("doc_id").isin(sem_drop))

        out["heavy_spans"] = steps.run(
            "spans", "operators.dedup",
            lambda: duplicated_spans(clean, "doc_id", "text", n=5).filter(
                F.col("covered_tokens") * 2 > F.col("n_spans") + 4
            ).count(),
        )

        ev = docs.filter(F.col("doc_id") % gen.EVAL_MOD == 0)
        train = clean.filter(F.col("doc_id") % gen.EVAL_MOD != 0)
        out["contaminated"] = steps.run(
            "contamination", "operators.dedup",
            lambda: contamination_fraction(train, ev, "doc_id", "text", n=3)
            .filter(F.col("contamination") >= 0.5).count(),
        )
        out["final"] = steps.run(
            "decontaminate", "operators.dedup",
            lambda: [r.doc_id for r in decontaminate(train, ev, "doc_id", "text", n=5)
                     .select("doc_id").collect()],
        )
        spark.catalog.clearCache()
        return out

    def check(self, spark) -> list[str]:
        out, c = self.last, self.corpus
        quality_ids = {i for i, _ in out["quality"]}
        errs = checks.exact_dedup(out["exact"], out["quality"])
        errs += checks.near_dup_recall(out["pairs"], c.near_dup_pairs, quality_ids)
        errs += checks.component_labels(out["components"], out["pairs"])
        errs += checks.contamination_removed(out["final"], c.contaminated_ids)
        return errs

    def layer_metrics(self) -> dict[str, float]:
        out, c = self.last, self.corpus
        quality_ids = {i for i, _ in out["quality"]}
        want = [p for p in c.near_dup_pairs if p[0] in quality_ids and p[1] in quality_ids]
        got = set(out["pairs"])
        return {
            "dedup.pairs": len(out["pairs"]),
            "dedup.pair_recall": sum(p in got for p in want) / len(want) if want else 1.0,
            "dedup.components": len(set(out["components"].values())),
            "dedup.removed": self.n_docs - len(out["final"]),
        }


# ------------------------------------------------------------ alert_stream

class TopicSink:
    """foreachBatch writer: per-topic selection counts for the micro-batch
    in one aggregation, then the ``NotificationSink`` over the selection."""

    def __init__(self, tracer: Tracer, cap: int):
        from fink_filters_spark.sinks import CollectingTransport, NotificationSink

        self.tracer = tracer
        self.cap = cap
        self.transport = CollectingTransport()
        self.notifier = NotificationSink(self.transport, key_cols=("candid",),
                                         max_rows_per_batch=cap)
        self.batches: dict[int, dict] = {}
        self.build_ms: list[float] = []
        self.notify_ms: list[float] = []
        self.done = threading.Event()

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from fink_filters_spark.filters.registry import get_filter

        with self.tracer.span("topic_counts", "filters"):
            t0 = time.perf_counter()
            flags = [
                F.sum(get_filter(t).builder(batch_df).cast("long")).alias(t)
                for t in ZTF_TOPICS
            ]
            self.build_ms.append((time.perf_counter() - t0) * 1e3)
            row = batch_df.agg(F.count(F.lit(1)).alias("__n"), *flags).first()
        sent0 = len(self.transport.sent)
        with self.tracer.span("notify", "sinks"):
            t0 = time.perf_counter()
            self.notifier(batch_df, batch_id)
            self.notify_ms.append((time.perf_counter() - t0) * 1e3)
        self.batches[batch_id] = {
            "offered": int(row["__n"]),
            "sent": len(self.transport.sent) - sent0,
            "topics": {t: int(row[t] or 0) for t in ZTF_TOPICS},
            "end": time.perf_counter(),
            "cpu": tree_cpu_s(),
        }
        self.done.set()


class AlertStream:
    """Closed-loop drain of staged alert files: one file per trigger, the
    next trigger starting once the previous one commits. The window is
    the steady state: it opens when the last of the query's first
    ``warm_batches`` micro-batches (query start, JIT still compiling)
    leaves the sink."""

    name = "alert_stream"
    CAP = 50

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        self.work = work
        self.seed = seed
        self.per_file = max(int(1000 * scale), 50)
        self.warm_batches = 6 if scale >= 1 else 1
        self.n_files = 32 if scale >= 1 else 4
        self.runs = 0
        self.last: dict = {}

    def generate(self) -> None:
        gen.write_alert_files(f"{self.work}/alerts", self.seed, self.n_files, self.per_file)
        gen.write_alert_files(f"{self.work}/warm", self.seed + 10_007, 1, self.per_file)

    def _start(self, spark, src: str, sink: TopicSink, once: bool):
        from fink_filters_spark.filters.classification import extract_fink_classification
        from fink_filters_spark.filters.registry import get_filter
        from fink_filters_spark.schemas import ZTF_ALERT_SCHEMA, flatten_ztf
        from fink_filters_spark.streaming import StreamPipeline

        stream = (spark.readStream.schema(ZTF_ALERT_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        pipe = StreamPipeline(stream).enrich(flatten_ztf).enrich(extract_fink_classification)
        any_topic = reduce(lambda a, b: a | b,
                           [get_filter(t).builder(pipe.df) for t in ZTF_TOPICS])
        pipe = pipe.filter(any_topic).sink(sink)
        self.runs += 1
        ck = f"{self.work}/ck{self.runs}"
        shutil.rmtree(ck, ignore_errors=True)
        return pipe.start(checkpoint=ck, once=once)

    def warm_unit(self, spark) -> None:
        """Drain the warm-up file in a query of its own."""
        q = self._start(spark, f"{self.work}/warm", TopicSink(Tracer(False), self.CAP), once=True)
        q.awaitTermination(170)
        if q.exception() is not None:
            raise RuntimeError(f"warm-up stream failed: {q.exception()}")

    def warm(self, spark, tracer: Tracer) -> None:
        """Nothing beyond the set-ups: each one already drained the warm-up
        file through the full pipeline, and the first ``warm_batches``
        micro-batches of the measured query stay outside the window."""

    def measure(self, spark, seconds: float, steps: Steps) -> Window:
        sink = TopicSink(steps.tracer, self.CAP)
        w = Window(per_unit=self.per_file)
        with steps.tracer.span("stream", "streaming"):
            q = self._start(spark, f"{self.work}/alerts", sink, once=False)
            while q.isActive:
                n = len(sink.batches)
                if n >= self.n_files or (
                    n > self.warm_batches
                    and time.perf_counter()
                    >= sink.batches[self.warm_batches - 1]["end"] + seconds
                ):
                    break
                sink.done.wait(0.05)
                sink.done.clear()
            # let the last finished micro-batch commit and report its
            # progress, then stop (a micro-batch started since is dropped)
            last = max(sink.batches, default=-1)
            t_wait = time.perf_counter() + 30
            while q.isActive and time.perf_counter() < t_wait:
                p = q.lastProgress
                if p is not None and p.batchId >= last:
                    break
                time.sleep(0.01)
            exc = q.exception()
            q.stop()
        by_id = {p.batchId: p for p in q.recentProgress}
        done = sorted(sink.batches)
        committed = [b for b in done if b in by_id]
        w.attempted = w.spanned = len(done) + (1 if exc is not None else 0)
        w.failed = 1 if exc is not None else 0
        if exc is not None:
            print(f"# alert_stream: query failed: {exc}")
        steady = committed[self.warm_batches:]
        w.units = [by_id[b].durationMs["triggerExecution"] / 1e3 for b in steady]
        w.items = len(steady) * self.per_file
        if steady:
            first = sink.batches[committed[self.warm_batches - 1]]
            last = sink.batches[steady[-1]]
            w.cpu_s = last["cpu"] - first["cpu"]
            seq = [first] + [sink.batches[b] for b in steady]
            w.intervals = [b["end"] - a["end"] for a, b in zip(seq, seq[1:])]
            w.interval_cpu = [b["cpu"] - a["cpu"] for a, b in zip(seq, seq[1:])]
        self.last = {"sink": sink, "progress": [by_id[b] for b in committed], "done": done}
        if steps.tracer.enabled:
            steps.groups.setdefault("stream", []).append(str(q.runId))
        return w

    def check(self, spark) -> list[str]:
        from fink_filters_spark.filters.classification import extract_fink_classification
        from fink_filters_spark.programs.nightly import nightly_report
        from fink_filters_spark.schemas import ZTF_ALERT_SCHEMA, flatten_ztf

        sink, done = self.last["sink"], self.last["done"]
        errs = checks.batch_ids(done)
        files = [f"{self.work}/alerts/part-{i:05d}.parquet" for i in done]
        if files:
            ref = nightly_report(
                extract_fink_classification(
                    flatten_ztf(spark.read.schema(ZTF_ALERT_SCHEMA).parquet(*files))
                ),
                ZTF_TOPICS,
            )
            got = {t: sum(sink.batches[b]["topics"][t] for b in done) for t in ZTF_TOPICS}
            errs += checks.topic_counts(got, ref)
        errs += checks.delivered(
            [sink.batches[b]["offered"] for b in done],
            [sink.batches[b]["sent"] for b in done],
            len({p["candid"] for p in sink.transport.sent if p["_batch_id"] in set(done)}),
            self.CAP,
        )
        return errs

    def layer_metrics(self) -> dict[str, float]:
        sink, prog = self.last["sink"], self.last["progress"]

        def dur(key: str, q: float = 50) -> float:
            vals = [p.durationMs.get(key, 0) for p in prog]
            return float(pct(vals, q)) if vals else 0.0

        selected = sum(sum(b["topics"].values()) for b in sink.batches.values())
        sent = sum(b["sent"] for b in sink.batches.values())
        return {
            "filters.topics": len(ZTF_TOPICS),
            "filters.selected": selected,
            "filters.build_ms_p50": statistics.median(sink.build_ms) if sink.build_ms else 0.0,
            "streaming.batches": len(prog),
            "streaming.query_planning_ms_p50": dur("queryPlanning"),
            "streaming.trigger_ms_p50": dur("triggerExecution"),
            "streaming.trigger_ms_p90": dur("triggerExecution", 90),
            "streaming.add_batch_ms_p50": dur("addBatch"),
            "streaming.latest_offset_ms_p50": dur("latestOffset"),
            "streaming.wal_commit_ms_p50": dur("walCommit"),
            "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
            "sinks.notify_ms_p50": statistics.median(sink.notify_ms) if sink.notify_ms else 0.0,
            "sinks.sent": sent,
            "sinks.delivered_frac": (
                sent / sum(min(b["offered"], self.CAP) for b in sink.batches.values())
                if sink.batches else 0.0
            ),
        }


WORKLOADS = {w.name: w for w in (AlertStream, AlertNight, CorpusCuration)}

# Step names in pass order; each has <step>_s, <step>.jobs and <step>.tasks
# per-layer metrics (0 on a workload that does not run it). The steps only
# corpus_curation runs are printed only by that workload.
STEPS = [
    "stream",
    "nightly_report", "crossmatch", "fit", "anomaly", "archive", "state_update", "read_state",
    "mixture", "quality", "exact", "components", "repetition",
]
CORPUS_ONLY_STEPS = ["jaccard_pairs", "pii", "semantic", "spans", "contamination",
                     "decontaminate"]

# Per-layer counts and ratios the workloads report, with units; the
# corpus-only ones are printed only by the workload that reports them.
LAYER_METRICS = {
    "filters.topics": "count",
    "filters.selected": "count",
    "filters.build_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p90": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "sinks.notify_ms_p50": "ms",
    "sinks.sent": "count",
    "sinks.delivered_frac": "ratio",
    "sinks.archive_bytes": "bytes",
    "crossmatch.pairs": "count",
    "crossmatch.matched_frac": "ratio",
    "fit.objects": "count",
    "fit.converged_frac": "ratio",
    "dedup.components": "count",
}
CORPUS_ONLY_METRICS = {
    "dedup.pairs": "count", "dedup.pair_recall": "ratio", "dedup.removed": "count",
}
