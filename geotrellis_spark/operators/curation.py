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


def gate_ids(docs, rep_gate: bool = False):
    """Per-doc-pure stage-1 eligibility: quality gate, optionally AND
    NOT rep_filter-flagged."""
    ids = text.quality_score(docs).where("is_quality").select("doc_id")
    if rep_gate:
        ok = text.rep_filter(docs).where("NOT flagged").select("doc_id")
        ids = ids.join(ok, "doc_id")
    return ids


def curate(spark, docs, per_stratum: int, salt: int = 42,
           metrics=None, bench=None, min_shared: int = 25,
           scrub_pii: bool = False,
           rep_gate: bool = False,
           surprisal_band: "tuple | None" = None,
           dup_span_milli: "int | None" = None,
           domain_share_milli: "int | None" = None) -> "tuple":
    """Run the 4-stage curation over a documents DataFrame. Returns
    (curated_df, stats dict). ``metrics``: optional (base, job_id)
    tuple to persist per-stage counts.

    ``bench``: optional benchmark/eval documents DataFrame — adds a
    DECONTAMINATION stage after the quality gate: docs sharing >=
    ``min_shared`` distinct shingles with any benchmark doc are
    dropped as train/eval leakage (``dedup.contamination`` — the
    benchmark shingle set broadcasts, the corpus never shuffles).

    Optional r5 gates:

    - ``scrub_pii``: stage 0 — text is REPLACED by its pii_scrub
      redaction before anything hashes it.
    - ``rep_gate``: stage 1 also drops rep_filter-flagged docs
      (per-doc pure, via ``gate_ids``).
    - ``surprisal_band=(low, high)`` / ``dup_span_milli``:
      CORPUS-GLOBAL gates after decontamination — unigram-surprisal
      milli-bits outside the band, or cross-doc duplicated-span
      fraction >= the threshold, drop the doc.
    - ``domain_share_milli``: stage 3.5 — corpus-relative domain
      balancing (sampling.domain_cap): after near-dup collapse no
      domain may hold more than this per-mille of the survivors'
      total tokens. Runs AFTER dedup on purpose (duplicates must not
      count toward a domain's share) and BEFORE the stratified
      sample (the sample draws from the balanced corpus). Pure
      function of the survivor multiset."""
    if scrub_pii:
        docs = docs.drop("text").join(
            text.pii_scrub(docs).selectExpr("doc_id", "redacted as text"),
            "doc_id",
        )
    stats = {"input": docs.count()}

    def metric(stage, name, value):
        stats[f"{stage}.{name}"] = value
        if metrics:
            write_metric(spark, metrics[0], metrics[1], stage, name, value)

    # 1. quality gate (pure codegen filter; the optional per-doc
    # repetition gate rides the same semi-join via gate_ids)
    gated = docs.join(gate_ids(docs, rep_gate=rep_gate), "doc_id")
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

    # 1.7 (optional): CORPUS-GLOBAL quality gates. They run after
    # decontamination on purpose — the unigram LM and the span
    # document-frequencies are statistics of the corpus, and leaked
    # eval text must not shape them. Each is one anti-join against a
    # flagged set; both operators are pure aggregations (no windows).
    if surprisal_band is not None:
        lo, hi = surprisal_band
        ok = text.unigram_surprisal(
            gated, low_milli=lo, high_milli=hi
        ).where("NOT flagged").select("doc_id")
        gated = gated.join(ok, "doc_id").localCheckpoint()
        metric("surprisal", "kept", gated.count())
    if dup_span_milli is not None:
        ok = dedup.dup_spans(
            gated, flag_milli=dup_span_milli
        ).where("NOT flagged").select("doc_id")
        gated = gated.join(ok, "doc_id").localCheckpoint()
        metric("dup_spans", "kept", gated.count())

    # 2. exact dedup: keep each md5 group's min doc id
    keep_exact = (
        dedup.exact_dedup(gated).select(F.col("min_doc").alias("doc_id"))
    )
    exact = gated.join(keep_exact, "doc_id").localCheckpoint()
    metric("exact_dedup", "kept", exact.count())

    # 3. near-dup collapse: production (capped) candidate pairs ->
    # connected components -> drop everything but cluster minima
    pairs = dedup.minhash_dedup(exact)
    clusters = dedup.dedup_clusters(pairs)
    drop = clusters.where("doc_id <> cluster").select("doc_id")
    neardup = exact.join(drop, "doc_id", "left_anti").localCheckpoint()
    metric("neardup", "kept", neardup.count())

    # 3.5 (optional): corpus-relative domain balancing over survivors
    if domain_share_milli is not None:
        keep = sampling.domain_cap(
            neardup, domain_share_milli, salt=salt
        ).select("doc_id")
        neardup = neardup.join(keep, "doc_id").localCheckpoint()
        metric("domain_cap", "kept", neardup.count())

    # 4. deterministic stratified sample per (lang, source)
    curated = sampling.stratified_sample(
        neardup, ("lang", "source"), per_stratum, "doc_id", salt=salt
    )
    metric("sample", "kept", curated.count())
    return curated, stats
