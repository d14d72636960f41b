"""4-stage training-data curation core (run by the batch
``jobs/curate.py`` entrypoint).

documents -> quality gate -> exact dedup -> near-dup cluster collapse
-> stratified sample, with per-stage metrics. Stage order matters and
IS the product: the cheap codegen filter runs first and cuts
everything after; every global stage is deterministic and
repartition-invariant, so the same input multiset always yields the
same curated output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..checkpoint import write_metric
from . import dedup, sampling, text


def gate_ids(docs):
    """Per-doc-pure stage-1 eligibility: the ids that pass the quality
    gate."""
    return text.quality_score(docs).where("is_quality").select("doc_id")


def curate(spark, docs, per_stratum: int, salt: int = 42,
           metrics=None, bench=None, min_shared: int = 25) -> "tuple":
    """Run the 4-stage curation over a documents DataFrame. Returns
    (curated_df, stats dict). ``metrics``: optional (base, job_id)
    tuple to persist per-stage counts.

    ``bench``: optional benchmark/eval documents DataFrame — adds a
    DECONTAMINATION stage after the quality gate: docs sharing >=
    ``min_shared`` distinct shingles with any benchmark doc are
    dropped as train/eval leakage (``dedup.contamination`` — the
    benchmark shingle set broadcasts, the corpus never shuffles)."""
    stats = {"input": docs.count()}

    def metric(stage, name, value):
        stats[f"{stage}.{name}"] = value
        if metrics:
            write_metric(spark, metrics[0], metrics[1], stage, name, value)

    # 1. quality gate (pure codegen filter)
    gated = docs.join(gate_ids(docs), "doc_id")
    gated = gated.localCheckpoint()  # reused by three stages below
    metric("quality", "kept", gated.count())

    # 1.5 (optional): train/eval decontamination — leakage drops here,
    # BEFORE dedup, so a contaminated doc can't become the kept
    # representative of an otherwise-clean duplicate cluster
    if bench is not None:
        flagged = dedup.contamination(
            gated, bench, min_shared=min_shared
        ).select("doc_id").distinct()
        gated = gated.join(flagged, "doc_id", "left_anti").localCheckpoint()
        metric("decontaminate", "kept", gated.count())

    # 2. exact dedup: keep each md5 group's min doc id
    keep_exact = (
        dedup.exact_dedup(gated).select(F.col("min_doc").alias("doc_id"))
    )
    exact = gated.join(keep_exact, "doc_id").localCheckpoint()
    metric("exact_dedup", "kept", exact.count())

    # 3. near-dup collapse: MinHash-LSH star edges (each bucket member
    # -> its bucket's min id) -> connected components -> drop
    # everything but cluster minima
    pairs = dedup.minhash_dedup(exact)
    clusters = dedup.dedup_clusters(pairs)
    drop = clusters.where("doc_id <> cluster").select("doc_id")
    neardup = exact.join(drop, "doc_id", "left_anti").localCheckpoint()
    metric("neardup", "kept", neardup.count())

    # 4. deterministic stratified sample per (lang, source)
    curated = sampling.stratified_sample(
        neardup, ("lang", "source"), per_stratum, "doc_id", salt=salt
    )
    metric("sample", "kept", curated.count())
    return curated, stats
