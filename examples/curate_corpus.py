"""Corpus curation end-to-end: the LLM-training-data pipeline this engine
adds on top of the reference's alert-filtering surface.

    documents -> source-mixture sampling -> quality filter -> PII gate
              -> repetition gate -> exact dedup -> near-dup clustering
              -> survivor selection -> semantic dedup (embeddings)
              -> substring-duplication profile -> graded + binary
                 decontamination -> shuffle-sharding -> summary

Run: python examples/curate_corpus.py [sf_dir]   (default sf0.001)

Every stage is a lazy DataFrame transform; nothing collects until the final
summary. At 100 TB the same plan holds: quality predicates push into the
scan, dedup shuffles on shingle/pair keys, clustering adapts
(driver union-find for the tiny pair graph, distributed star contraction
past a threshold), survivors anti-join.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from pyspark.sql import functions as F

    from fink_filters_spark.functions.text import punct_ratio, token_count
    from fink_filters_spark.operators.dedup import (
        connected_components,
        dedup_exact,
        jaccard_pairs,
    )
    from fink_filters_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("curate", cpus=8)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()

    # ---- 0. source-mixture sampling (literal rates, no job, zero shuffle) --
    from fink_filters_spark.operators.sample import mixture_sample

    docs_mixed = mixture_sample(
        docs, {"src0": 1000, "src1": 500}, key="doc_id", source_col="source",
        default_permille=800,
    )
    n0b = docs_mixed.count()

    # ---- 1. quality gate (native predicates -> pushed into the scan) -------
    quality = docs_mixed.filter(
        (token_count("text") >= 5) & (punct_ratio("text") < 0.3)
    )
    n1 = quality.count()

    # ---- 2. exact dedup (normalize + hash groupBy) -------------------------
    survivors_exact = dedup_exact(quality, "text", "doc_id")
    n2 = survivors_exact.count()

    # ---- 3. near-dup clustering: pairs -> components -> keep cluster min ---
    pairs = jaccard_pairs(quality, "doc_id", "text", n=3, tau=0.5)
    comp = connected_components(pairs)
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    curated = quality.join(drop, "doc_id", "left_anti")
    n3 = curated.count()

    # ---- 4. hygiene gates: PII + repetition --------------------------------
    from fink_filters_spark.functions.text import (
        combine_word_hashes,
        pii_counts,
        word_hashes,
    )

    pii_total = None
    for c in pii_counts("text").values():
        pii_total = c if pii_total is None else pii_total + c
    clean = curated.filter(pii_total == 0)
    wh = clean.select("doc_id", word_hashes("text").alias("__wh"))
    grams = wh.select(
        "doc_id", combine_word_hashes("__wh", 3, distinct=False).alias("__g")
    )
    repetitive = grams.filter(
        F.size(F.array_distinct("__g")).cast("double")
        < F.size("__g").cast("double") * 0.7
    ).select("doc_id")
    clean = clean.join(repetitive, "doc_id", "left_anti")
    n4 = clean.count()

    # ---- 4b. semantic dedup over the embedding table (SemDeDup) ------------
    from fink_filters_spark.operators.dedup import semantic_dedup

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    sem = semantic_dedup(em, cents, tau=0.4)
    sem_drop = sem.filter(F.col("kept") == 0).select(
        F.col("vec_id").alias("doc_id")
    )
    # doc_id == vec_id in the synthetic tables; at scale this is the join
    # key the embedding pipeline carries alongside the text
    clean = clean.join(sem_drop, "doc_id", "left_anti")
    n4b = clean.count()

    # ---- 4c. substring-duplication profile (ExactSubstr trim set) ----------
    from fink_filters_spark.operators.dedup import duplicated_spans

    prof = duplicated_spans(clean, "doc_id", "text", n=5)
    heavy = prof.filter(
        F.col("covered_tokens") * 2 > F.col("n_spans") + 4  # >50% duplicated
    )
    n_heavy = heavy.count()

    # ---- 5. decontamination: graded score, then the binary gate ------------
    from fink_filters_spark.operators.dedup import (
        contamination_fraction,
        decontaminate,
    )

    ev = docs.filter(F.col("doc_id") % 97 == 0)
    train = clean.filter(F.col("doc_id") % 97 != 0)
    frac = contamination_fraction(train, ev, "doc_id", "text", n=3)
    n_contam = frac.filter(F.col("contamination") >= 0.5).count()
    train = decontaminate(train, ev, "doc_id", "text", n=5)
    n5 = train.count()

    # ---- 6. deterministic shuffle-sharding for the trainer -----------------
    from fink_filters_spark.operators.sample import md5_bucket

    sharded = train.withColumn("shard", md5_bucket("doc_id", 64).cast("long"))

    # ---- 7. corpus summary -------------------------------------------------
    stats = sharded.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(token_count("text")).alias("tokens"),
        F.round(F.avg("n_chars"), 1).alias("avg_chars"),
        F.countDistinct("shard").alias("shards"),
    ).first()

    print(f"raw documents:        {n0}")
    print(f"after mixture sample: {n0b}")
    print(f"after quality gate:   {n1}")
    print(f"exact-dedup groups:   {n2}")
    print(f"after near-dup dedup: {n3}")
    print(f"after PII+repetition: {n4}")
    print(f"after semantic dedup: {n4b}")
    print(f"heavy substring-dup:  {n_heavy}")
    print(f"contaminated >=50%:   {n_contam}")
    print(f"after decontam:       {n5}")
    print(f"curated corpus: {stats['docs']} docs, {stats['tokens']} tokens, "
          f"avg {stats['avg_chars']} chars, {stats['shards']} shards")
    spark.stop()


if __name__ == "__main__":
    main()
