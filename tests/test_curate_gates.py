"""Curate's near-dup step: MinHash-LSH star edges and one-task
components run in a handful of Spark jobs."""

from __future__ import annotations

from geotrellis_spark.operators.curation import gate_ids


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


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
