"""Round-5 curation gate wiring: scrub_pii / rep_gate /
surprisal_band / dup_span_milli in the batch core.

Reference parity anchor: the reference's curation pipelines chain
quality filters ahead of dedup (SURVEY.md §2 parity-plus, LLM-data
table).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from geotrellis_spark.operators import text
from geotrellis_spark.operators.curation import curate, gate_ids


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_curate_scrub_pii_redacts_before_hashing(spark):
    """scrub_pii=True: curated text carries redaction tokens, never a
    raw email/SSN — and two docs identical EXCEPT for their PII become
    exact duplicates after the scrub (redaction runs before md5)."""
    docs = _docs(spark)
    qd = docs.join(gate_ids(docs), "doc_id")
    base = qd.orderBy("doc_id").limit(1).collect()[0]
    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [900001, 900002],
                "text": [
                    base["text"] + " contact alice@example.com today",
                    base["text"] + " contact bob@sample.org today",
                ],
                "lang": [base["lang"]] * 2,
                "source": [base["source"]] * 2,
            }
        )
    ).select(*[c for c in docs.columns if c in
               ("doc_id", "text", "lang", "source")])
    corpus = docs.select(extra.columns).unionByName(extra)
    curated, stats = curate(spark, corpus, per_stratum=1000,
                            scrub_pii=True)
    out = curated.toPandas()
    joined = " ".join(out["text"])
    assert "alice@example.com" not in joined
    assert "bob@sample.org" not in joined
    # post-scrub the two injected docs are byte-identical -> exact
    # dedup keeps only the min id
    kept = set(out["doc_id"])
    assert not (900001 in kept and 900002 in kept)
    assert stats["quality.kept"] >= stats["exact_dedup.kept"]


def test_curate_rep_gate_drops_flagged_docs(spark):
    """rep_gate=True: a quality-passing doc that rep_filter flags is
    gone; the stage-1 metric shrinks by exactly the flagged overlap."""
    docs = _docs(spark)
    plain, s_plain = curate(spark, docs, per_stratum=1000)
    gated, s_gated = curate(spark, docs, per_stratum=1000,
                            rep_gate=True)
    q_ids = {r["doc_id"] for r in gate_ids(docs).collect()}
    flagged = {
        r["doc_id"]
        for r in text.rep_filter(docs).where("flagged").collect()
    }
    assert s_gated["quality.kept"] == len(q_ids - flagged)
    kept = {r["doc_id"] for r in gated.select("doc_id").collect()}
    assert not (kept & flagged)
    assert s_gated["quality.kept"] <= s_plain["quality.kept"]


def test_curate_surprisal_and_dup_span_gates(spark):
    """Corpus-global gates: a hand-injected gibberish doc (rare-token
    soup -> high mean surprisal) and a boilerplate near-copy pair
    (high cross-doc duplicated-span fraction) are dropped; the stage
    metrics appear in order."""
    docs = _docs(spark)
    cols = ["doc_id", "text", "lang", "source"]
    qd = docs.join(gate_ids(docs), "doc_id")
    base = qd.orderBy("doc_id").limit(2).collect()
    footer = ("all rights reserved by the company and its affiliates "
              "worldwide under license terms")
    gib = " ".join(f"zq{i}xj{i * 7}" for i in range(40))
    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [910001, 910002, 910003],
                "text": [
                    base[0]["text"] + " " + footer,
                    base[1]["text"] + " " + footer,
                    gib + " " + gib,  # unique tokens, doubled length
                ],
                "lang": [base[0]["lang"]] * 3,
                "source": [base[0]["source"]] * 3,
            }
        )
    ).select(cols)
    corpus = docs.select(cols).unionByName(extra)
    curated, stats = curate(
        spark, corpus, per_stratum=1000,
        surprisal_band=(0, 13000), dup_span_milli=400,
    )
    kept = {r["doc_id"] for r in curated.select("doc_id").collect()}
    # the gibberish doc repeats itself once so it passes the repetition
    # -free quality gate path only if quality allows; regardless of the
    # earlier stages, if it reached the surprisal gate it must be gone
    assert 910003 not in kept
    assert "surprisal.kept" in stats and "dup_spans.kept" in stats
    assert stats["surprisal.kept"] <= stats.get(
        "decontaminate.kept", stats["quality.kept"]
    )
    assert stats["dup_spans.kept"] <= stats["surprisal.kept"]


def test_curate_domain_share_stage(spark):
    """domain_share_milli: stage 3.5 caps each domain at the given
    per-mille of the SURVIVORS' total tokens, between near-dup
    collapse and the sample. With an identity sample (huge
    per_stratum), curate(domain_share_milli=m) == domain_cap(m) applied
    to the plain curate's survivors."""
    from geotrellis_spark.operators import sampling

    docs = _docs(spark)
    plain, s_plain = curate(spark, docs, per_stratum=10_000)
    capped, s_cap = curate(spark, docs, per_stratum=10_000,
                           domain_share_milli=40)
    want = set(
        r["doc_id"]
        for r in sampling.domain_cap(
            plain.select("doc_id", "text", "lang", "source"), 40, salt=42
        ).collect()
    )
    got = set(r["doc_id"] for r in capped.select("doc_id").collect())
    assert got == want and got
    assert s_cap["domain_cap.kept"] == len(want)
    assert s_cap["neardup.kept"] == s_plain["neardup.kept"]
    assert s_cap["domain_cap.kept"] < s_cap["neardup.kept"]
    assert s_cap["sample.kept"] == s_cap["domain_cap.kept"]


def test_curate_neardup_step_runs_few_jobs(spark):
    """Curate's step 3 (MinHash-LSH star edges -> dedup_clusters ->
    the ids to drop) runs a handful of Spark jobs: the edge plan is
    evaluated once, its size rides the checkpoint job, and components
    run in one task. The round loop it replaces ran one or more jobs
    per round on top of a four-copy pair plan."""
    from geotrellis_spark.operators import dedup

    docs = _docs(spark)
    gated = docs.join(gate_ids(docs), "doc_id").localCheckpoint()
    keep = dedup.exact_dedup(gated).selectExpr("min_doc as doc_id")
    exact = gated.join(keep, "doc_id").localCheckpoint()
    sc = spark.sparkContext
    sc.setJobGroup("neardup_step", "curate near-dup step")
    try:
        clusters = dedup.dedup_clusters(dedup.minhash_dedup(exact))
        drop = clusters.where("doc_id <> cluster").select("doc_id")
        dropped = drop.collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup("neardup_step"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert dropped  # the fixture corpus has near-duplicates
    assert 0 < len(jobs) <= 6
