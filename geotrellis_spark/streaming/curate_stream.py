"""Continuous-ingest curation: the batch 4-stage curation pipeline
(``operators.curation.curate``) wired into Structured Streaming.

Shape (the honest scale story, stage by stage):

- **Stream side**: watermarked ``dropDuplicatesWithinWatermark`` on
  doc_id — the streaming twin of exact-id dedup. State is bounded by
  the watermark, which is what makes it viable on an unbounded bus.
- **foreachBatch**: each micro-batch APPENDS its rows to a staging
  parquet store (cheap, per-row), then every ``recurate_every``
  batches re-runs the global stages (quality gate is idempotent;
  exact md5 dedup, minhash near-dup collapse, stratified sample are
  inherently corpus-global) over the accumulated staging store and
  OVERWRITES the curated snapshot. Because every stage is
  deterministic and repartition-invariant, the snapshot after N
  batches is IDENTICAL to running the batch job over the union of all
  N inputs — the e2e test asserts exactly that.

The expensive per-doc work IS incremental: minhash signatures (the
shingling pass over full text — the dominant near-dup cost) are
computed once per arriving doc in its own micro-batch and stored in a
signature table; recuration re-bands and re-pairs over the stored
signatures (one narrow shuffle of 9-column rows) instead of
re-shingling the corpus text. Signatures are a pure function of each
doc's text, so the result is bit-identical to the batch job. At 100 TB
you would additionally raise ``recurate_every`` (or trigger recuration
on a compaction schedule) so the remaining O(corpus-signatures) global
stages amortize over many appends; the append path stays O(batch).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from ..operators.curation import curate, gate_ids
from ..operators.text import pii_scrub
from ..operators.dedup import (
    PB_EXPR,
    band_rows,
    capped_bucket_pairs,
    contamination,
    incremental_pairs,
    minhash_signatures,
)
from ..session import local_df


def recurate(
    spark,
    out_dir: str,
    per_stratum: int = 100,
    salt: int = 42,
    batch_id: int | None = None,
    use_pair_store: bool = False,
    bench=None,
    min_shared: int = 25,
    rep_gate: bool = False,
    domain_share_milli: int | None = None,
) -> dict:
    """Fold everything staged so far into the curated snapshot. Called
    by the stream on its recuration cadence, and callable standalone
    after the stream stops to fold any tail batches (the snapshot ==
    batch-job invariant then holds over ALL staged rows regardless of
    ``recurate_every``). foreachBatch is at-least-once on restart — a
    replayed batch re-appends its rows — and both stores are
    deterministic per doc, so doc_id-dedupe at read makes this
    idempotent."""
    staging = os.path.join(out_dir, "staging")
    sig_store = os.path.join(out_dir, "staging_sigs")
    contam_store = os.path.join(out_dir, "staging_contam")
    snap = os.path.join(out_dir, "docs")
    metrics_dir = os.path.join(out_dir, "_metrics")
    os.makedirs(metrics_dir, exist_ok=True)
    docs = spark.read.parquet(staging).dropDuplicates(["doc_id"])
    # flags are a pure per-doc function of (text, static bench): the
    # stream computes them once per arriving doc; recuration reads the
    # store instead of re-shingling the whole staged corpus
    contaminated = None
    if os.path.exists(contam_store):
        contaminated = spark.read.parquet(contam_store).dropDuplicates(
            ["doc_id"]
        )
        bench = None  # precomputed flags supersede inline evaluation
    if use_pair_store:
        # fail-loud coverage guard (mirrors the signature path's): a
        # band store missing QUALITY-GATED staged docs means their
        # near-dups were never paired — duplicates would silently
        # survive curation. (The store is built over gated docs only:
        # a low-quality bucket representative would otherwise strand
        # its capped tail pairs at recuration.)
        from pyspark.errors import AnalysisException

        try:
            bands = spark.read.parquet(
                os.path.join(out_dir, "staging_bands")
            )
            n_banded = bands.select("doc_id").distinct().count()
        except AnalysisException:
            # no band files yet (every batch so far gated/flagged out
            # entirely): an empty partitioned append writes nothing
            n_banded = 0
        eligible = docs.join(gate_ids(docs, rep_gate=rep_gate), "doc_id")
        if contaminated is not None:
            eligible = eligible.join(contaminated, "doc_id", "left_anti")
        n_docs = eligible.count()
        if n_banded < n_docs:
            raise ValueError(
                f"band store covers {n_banded} of {n_docs} staged docs"
                " — it was not maintained for every batch (pair_store"
                " off for part of the stream?); rebuild it or recurate"
                " with use_pair_store=False"
            )
        from pyspark.errors import AnalysisException

        try:
            pairs = spark.read.parquet(
                os.path.join(out_dir, "staging_pairs")
            ).select("doc_a", "doc_b").distinct()
        except AnalysisException:
            # a batch whose regeneration produced ZERO pairs writes no
            # parquet files (dynamic partition overwrite of an empty
            # frame) — schema inference then fails on the bare dir
            pairs = local_df(spark, [], "doc_a long, doc_b long")
        curated, stats = curate(
            spark, docs, per_stratum, salt, pairs=pairs,
            bench=bench, min_shared=min_shared, contaminated=contaminated,
            rep_gate=rep_gate, domain_share_milli=domain_share_milli,
        )
    else:
        sigs = spark.read.parquet(sig_store).dropDuplicates(["doc_id"])
        curated, stats = curate(
            spark, docs, per_stratum, salt, signatures=sigs,
            bench=bench, min_shared=min_shared, contaminated=contaminated,
            rep_gate=rep_gate, domain_share_milli=domain_share_milli,
        )
    curated.write.mode("overwrite").parquet(snap)
    tag = "final" if batch_id is None else str(batch_id)
    stats["batch_id"] = tag
    with open(os.path.join(metrics_dir, f"batch_{tag}.json"), "w") as f:
        json.dump(stats, f)
    return stats


def curate_stream(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    per_stratum: int = 100,
    salt: int = 42,
    watermark: str = "1 hour",
    recurate_every: int = 1,
    trigger_sec: int | None = None,
    pair_store: bool = False,
    max_bucket: int | None = None,
    bench=None,
    min_shared: int = 25,
    scrub_pii: bool = False,
    rep_gate: bool = False,
    domain_share_milli: int | None = None,
):
    """Start the streaming curation. ``docs_stream`` must carry the
    documents columns plus an event-time ``ts`` timestamp column.
    Curated snapshot lands at ``out_dir/docs``; per-recuration stats at
    ``out_dir/_metrics/batch_<id>.json``; raw accepted rows accumulate
    at ``out_dir/staging``.

    ``pair_store=True`` additionally maintains band membership and an
    incrementally-grown candidate-pair store over the QUALITY-GATED
    docs: each batch joins only its NEW docs against the buckets they
    touch (pair sets are monotone under an append-only corpus, so old
    pairs never need recomputing), and recuration reads the stored
    pairs instead of re-running the corpus-wide banding self-join —
    per-batch cost is proportional to the touched buckets' membership,
    recuration's near-dup stage to the pair-store size. The curated
    snapshot is still identical to the batch job (pairs filter to
    exact-dedup survivors at recuration; components are
    cap-invariant).

    ``bench`` (optional benchmark/eval docs DataFrame) adds the
    decontamination stage to every recuration — the snapshot equals
    the batch ``curate(bench=...)`` job over all staged rows.

    ``scrub_pii=True`` redacts PII AT INGEST: each arriving doc's text
    is replaced by its ``pii_scrub`` redaction BEFORE it reaches any
    store (staging, signatures, bands, contamination), so every
    derived artifact hashes the scrubbed text and the snapshot equals
    the batch ``curate(scrub_pii=True)`` job — this is the store-
    compatible place to scrub (``curate`` itself refuses
    ``scrub_pii`` with precomputed stores for exactly this reason).
    Scrubbing is a pure per-doc regex chain, so per-batch cost is
    O(batch), and replays re-derive identical text (idempotent).

    ``rep_gate=True`` adds the intra-doc repetition gate to stage 1;
    it is per-doc pure, so the stream threads it through the band
    store and coverage guards via the shared ``gate_ids``.

    ``max_bucket`` switches the store to CAPPED pair maintenance —
    the 100 TB shape, where the store itself stays bounded: capped
    pair sets are NOT monotone (a late-arriving small-id doc displaces
    a bucket representative), so instead of appending, each batch
    REGENERATES the hash partitions its buckets live in from current
    membership (``capped_bucket_pairs`` + dynamic partition
    overwrite). The stored pair set is proven equal to the batch
    ``minhash_candidates(gated, max_bucket=...)`` enumeration e2e,
    including bucket-overflow and representative-displacement
    batches."""
    staging = os.path.join(out_dir, "staging")
    sig_store = os.path.join(out_dir, "staging_sigs")
    band_store = os.path.join(out_dir, "staging_bands")
    pairs_store = os.path.join(out_dir, "staging_pairs")
    snap = os.path.join(out_dir, "docs")
    metrics_dir = os.path.join(out_dir, "_metrics")
    os.makedirs(metrics_dir, exist_ok=True)

    deduped = docs_stream.withWatermark(
        "ts", watermark
    ).dropDuplicatesWithinWatermark(["doc_id"])

    if bench is not None:
        # pin the benchmark set once: it is static for the stream's
        # lifetime and re-broadcasts per recuration otherwise
        bench = bench.localCheckpoint()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        rows = batch_df.drop("ts")
        if scrub_pii:
            # redact BEFORE anything is persisted or hashed — every
            # downstream store sees only scrubbed text
            rows = rows.drop("text").join(
                pii_scrub(rows).selectExpr("doc_id", "redacted as text"),
                "doc_id",
            )
        rows = rows.localCheckpoint()
        rows.write.mode("append").parquet(staging)
        # incremental signatures: shingle each doc exactly once, in
        # the micro-batch it arrives in
        sigs_new = minhash_signatures(rows).localCheckpoint()
        sigs_new.write.mode("append").parquet(sig_store)
        flagged_new = None
        if bench is not None:
            # contamination flags, once per arriving doc (pure per-doc
            # function of text x the static bench set) — recuration
            # reads the store instead of re-shingling the corpus
            q_ids = gate_ids(rows, rep_gate=rep_gate)
            flagged_new = contamination(
                rows.join(q_ids, "doc_id"), bench, min_shared=min_shared
            ).select("doc_id").distinct().localCheckpoint()
            flagged_new.write.mode("append").parquet(
                os.path.join(out_dir, "staging_contam")
            )
        if pair_store:
            # band/pair store over QUALITY-GATED docs only (the gate
            # is a pure per-doc function, so the stream applies it per
            # batch): under a cap, a low-quality doc must not become a
            # bucket representative — its tail pairs would filter away
            # at recuration and disconnect the tails, diverging from
            # the batch enumeration (which never sees gated-out docs)
            gated_ids = gate_ids(rows, rep_gate=rep_gate)
            if flagged_new is not None:
                # decontaminated docs must not reach the band store
                # either: under a cap, a later-dropped representative
                # would strand its tail pairs at recuration (the same
                # hazard the quality gate above guards against)
                gated_ids = gated_ids.join(
                    flagged_new, "doc_id", "left_anti"
                )
            sigs_gated = sigs_new.join(gated_ids, "doc_id")
            bands_new = band_rows(sigs_gated).selectExpr(
                "doc_id", "band", "bval", f"{PB_EXPR} as pb"
            ).localCheckpoint()
            if bands_new.isEmpty():
                # every doc in this batch was gated/flagged out: no
                # bucket membership changed, nothing to (re)pair —
                # and an empty partitioned append writes no files,
                # which would break the store read below
                if batch_id % recurate_every == 0:
                    recurate(
                        spark, out_dir, per_stratum, salt,
                        batch_id=int(batch_id),
                        use_pair_store=pair_store, bench=bench,
                        min_shared=min_shared, rep_gate=rep_gate,
                        domain_share_milli=domain_share_milli,
                    )
                return
            bands_new.write.mode("append").partitionBy("pb").parquet(
                band_store
            )
            if max_bucket is None:
                # UNCAPPED: pair sets are monotone under append-only
                # corpora, so new pairs simply append. NO dedupe here:
                # replayed duplicate band rows only produce duplicate
                # pairs, absorbed by incremental_pairs' distinct — a
                # dropDuplicates would shuffle the whole corpus store
                # every batch, defeating the touched-buckets cost model
                all_bands = spark.read.parquet(band_store)
                incremental_pairs(bands_new, all_bands).write.mode(
                    "append"
                ).parquet(pairs_store)
            else:
                # CAPPED: NOT monotone — a new small-id doc displaces
                # a bucket representative, invalidating stored pairs.
                # Bucket-delta REPLACEMENT: regenerate the hash
                # partitions the batch's buckets live in from current
                # membership and dynamic-partition-overwrite exactly
                # those; untouched partitions' membership is unchanged
                # so their stored pairs stay valid. Cost per batch is
                # proportional to the touched partitions' membership,
                # not the corpus. The dropDuplicates here is bounded
                # the same way (replays would double-consume cap
                # slots otherwise).
                touched = [
                    int(r["pb"])
                    for r in bands_new.select("pb").distinct().collect()
                ]
                members = (
                    spark.read.parquet(band_store)
                    .where(F.col("pb").isin(touched))
                    .dropDuplicates(["doc_id", "band", "bval"])
                )
                regen = capped_bucket_pairs(members, max_bucket=max_bucket)
                (
                    regen.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("pb").parquet(pairs_store)
                )
        # cadence keyed on the CHECKPOINTED batch_id (monotone across
        # restarts), not an in-memory counter that resets. With
        # recurate_every > 1 the snapshot may trail by up to
        # recurate_every-1 batches until the next firing trigger — the
        # standard streaming-snapshot trade-off; call ``recurate()``
        # after stopping the stream for an explicit final fold.
        if batch_id % recurate_every:
            return
        recurate(
            spark, out_dir, per_stratum, salt, batch_id=int(batch_id),
            use_pair_store=pair_store, bench=bench, min_shared=min_shared,
            rep_gate=rep_gate, domain_share_milli=domain_share_milli,
        )

    writer = deduped.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_sec is not None:
        writer = writer.trigger(processingTime=f"{trigger_sec} seconds")
    return writer.start()
