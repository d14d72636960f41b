"""Deduplication operators over document tables — exact, MinHash-LSH,
SimHash, n-gram Jaccard.

Not in the GeoTrellis reference (it is a raster library); these are the
large-scale training-data-pipeline operators the engine adds as
first-class components. All implementations are pure DataFrame ops
(JVM-side, whole-stage codegen; zero Python UDFs) and every one has an
exact DuckDB SQL twin built from the same integer/md5 arithmetic, so
the driver's oracle check is bit-exact.

Scale notes:
- exact dedup: one hash-shuffle on md5(text) — the canonical pattern.
- MinHash-LSH: shingle explode is a narrow map; signatures are one
  hash-agg by doc_id. Pair-level output (``minhash_candidates``, the
  oracle path) is a salted banding self-join on (band, value), never
  the O(n^2) cross join; callers that need only clusters take star
  edges (``minhash_dedup``: member -> bucket min), linear in bucket
  size, and ``dedup_clusters`` runs components in one Arrow task.
- SimHash: one explode + one hash-agg; fingerprint comparison is a
  band-bucket join like MinHash (here: exact-fingerprint buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PRIME = 1_000_000_007
# deterministic affine permutation constants (a*h + b) % PRIME
MINHASH_A = (7, 11, 13, 17, 19, 23, 29, 31)
MINHASH_B = (3, 5, 101, 211, 307, 401, 503, 601)
SHINGLE_K = 8
# 64-bit fingerprint, 4 x 16-bit bands: 65,536 possible values per
# band, so bucket occupancy FALLS as the corpus grows (the r4 16-bit
# fingerprint had 16 values/band — every bucket held ~n/16 docs and
# the band self-join was effectively quadratic at scale)
SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16
# bigint min as an overflow-safe SQL literal (bit 63 of the
# fingerprint is the sign bit in two's complement — both engines)
_I64_MIN = "(-9223372036854775807 - 1)"
# dedup_clusters' label-propagation rounds before it raises; with
# pointer jumping a path of diameter d needs about log2(d) rounds
DEDUP_CLUSTERS_MAX_ITERS = 25
# dedup_clusters runs components in ONE task up to this many edges.
# The Arrow input is 16 B per edge (two int64 endpoints), and
# min_label_components adds about 130 B per edge at peak (tracemalloc
# over 1M random edges): the endpoint concatenation and np.unique's
# sort order, sorted copy and inverse over it (2 ids per edge, 8 B
# each), then up to 2 labels per edge in the label, hook and lookup
# arrays. 2M edges is then under 300 MB in one Python worker.
COMPONENTS_TASK_EDGES = 2_000_000


def hex2int_spark(expr: str) -> str:
    """First 15 hex chars of md5 -> non-negative bigint (Spark SQL)."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def hex2int_duckdb(expr: str) -> str:
    """Same value in DuckDB SQL (15 hex chars < 2^60, fits int64)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::bigint)"


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: (text_hash, n_docs,
    min_doc)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("min_doc"),
        )
    )


def shingle_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = SHINGLE_K
) -> DataFrame:
    """Character k-shingles -> 60-bit md5 hashes mod PRIME. Narrow op
    (explode of an in-row sequence; no shuffle).

    A string ``substring`` walks the UTF-8 bytes from the start of the
    text to find its character position, so hashing every shingle that
    way costs O(L^2) per document. Single-byte text
    (``octet_length = length``) has one byte per character: there the
    shingle at ``pos`` is the same bytes as the binary substring at
    ``pos``, read in O(k), and md5 hashes the same bytes. Other text
    keeps the string substring, so the hashes are bit-identical for
    every text. (``regexp_extract_all(text, '(?s)(?=(.{8}))', 1)`` is as
    fast but not exact: Java regex walks UTF-16 units and emits an extra
    shingle that starts at the low surrogate of a non-BMP character.)"""
    return docs.selectExpr(
        id_col,
        f"explode(sequence(1, greatest(length({text_col}) - {k - 1}, 1))) as pos",
        f"case when octet_length({text_col}) = length({text_col}) "
        f"then cast({text_col} as binary) end as _b",
        f"case when octet_length({text_col}) <> length({text_col}) "
        f"then {text_col} end as _t",
    ).selectExpr(
        id_col,
        f"case when _b is not null "
        f"then {hex2int_spark(f'substring(_b, pos, {k})')} "
        f"else {hex2int_spark(f'substring(_t, pos, {k})')} end % {PRIME} as h",
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """8-permutation MinHash signature per doc (one hash-agg)."""
    sh = shingle_hashes(docs, id_col, text_col)
    aggs = [
        F.min(F.expr(f"({a} * h + {b}) % {PRIME}")).alias(f"mh{j}")
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_candidates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bands: int = 4, max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding (4 bands x 2 rows): docs sharing any band value are
    candidate near-duplicates. Returns (doc_a, doc_b), doc_a < doc_b.

    ``max_bucket`` is the 100 TB safety valve: a degenerate hot bucket
    (boilerplate text hashing to one band value) otherwise produces a
    quadratic pair blowup in the self-join. Capping keeps the
    ``max_bucket`` smallest ids per (band, bval) — every kept doc still
    pairs with the bucket's representative, so transitive-duplicate
    CLUSTERS are preserved even though the full pair list is truncated.
    Default None = exact pair enumeration (the oracle-checked path)."""
    sig = minhash_signatures(docs, id_col, text_col)
    banded = band_rows(sig, id_col, bands)
    tail_pairs = None
    if max_bucket is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "bval").orderBy(F.col(id_col).asc())
        ranked = banded.withColumn("_rk", F.row_number().over(w))
        # overflow docs (rank > cap) still pair with the bucket's
        # REPRESENTATIVE (its min id) — linear cost, and duplicate
        # clusters stay connected instead of silently surviving dedup
        rep = ranked.where("_rk = 1").select(
            "band", "bval", F.col(id_col).alias("_rep")
        )
        tail_pairs = (
            ranked.where(F.col("_rk") > max_bucket)
            .join(rep, ["band", "bval"])
            .select(
                F.col("_rep").alias("doc_a"),
                F.col(id_col).alias("doc_b"),
            )
        )
        banded = ranked.where(F.col("_rk") <= max_bucket).drop("_rk")
    # Salted TRIANGLE self-join (guide §2.5 "salt the key"): the plain
    # (band, bval) self-join concentrates each bucket's |bucket|^2/2
    # pair enumeration in ONE task — measured at sf1.0: 221M candidate
    # pairs, with the single hottest bucket (14,292 docs) contributing
    # 102M of them (46%), a straggler neither AQE coalescing nor AQE
    # skew-split can cut (skew-split keys on input bytes; the skew here
    # is OUTPUT amplification of one key). Salting each row into one of
    # G groups by a deterministic id hash and joining on
    # (band, bval, ga, gb) spreads a bucket over G*(G+1)/2 cells:
    # side A carries cells (g..G-1), side B cells (0..g), so an
    # unordered pair meets in exactly ONE cell — (min(gx,gy),
    # max(gx,gy)) across groups, or the diagonal cell with the id
    # inequality inside a group — and least/greatest restores the
    # doc_a < doc_b orientation. Output pair SET is identical; only the
    # task-level distribution of its enumeration changes. Replication
    # cost: the skinny banded rows x (G+1)/2 — bytes-trivial next to
    # the pair stream. The explicit keyed repartition pins the join at
    # the session's shuffle parallelism (bytes-based AQE coalescing
    # would otherwise shrink the tiny input to 1-2 partitions and
    # serialize the 100x-amplified output).
    _p = int(banded.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    _ngroups = min(_p, 64)
    salted = banded.withColumn(
        "_g", F.pmod(F.hash(F.col(id_col)), F.lit(_ngroups))
    )
    a_rep = salted.selectExpr(
        "band", "bval", f"{id_col} as _ida", "_g as _ga",
        f"explode(sequence(_g, {_ngroups - 1})) as _gb",
    ).repartition(_p, "band", "bval", "_ga", "_gb")
    b_rep = salted.selectExpr(
        "band", "bval", f"{id_col} as _idb",
        "explode(sequence(0, _g)) as _ga", "_g as _gb",
    ).repartition(_p, "band", "bval", "_ga", "_gb")
    pairs = (
        a_rep.join(b_rep, ["band", "bval", "_ga", "_gb"])
        .where(
            (F.col("_ga") < F.col("_gb")) | (F.col("_ida") < F.col("_idb"))
        )
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
        )
    )
    if tail_pairs is not None:
        pairs = pairs.unionByName(tail_pairs)
    # Size the distinct's exchange for the AMPLIFIED pair stream, not
    # the input (guide §5 spill): at the session's shuffle partitioning
    # the final distinct held ~7M pairs per task and fell into
    # sort-based spill (measured sf1.0 A/B on the 218.8M-pair answer:
    # 40.2s -> 15.8s at 4x partitions). The explicit keyed repartition
    # satisfies the aggregation's clustering requirement, so no extra
    # exchange is added — the shuffle just lands at 4x granularity.
    return pairs.repartition(4 * _p, "doc_a", "doc_b").distinct()


MAX_BUCKET_DEFAULT = 256


def minhash_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bands: int = 4,
) -> DataFrame:
    """PRODUCTION MinHash-LSH entry point for callers that need
    CLUSTERS, not pairs: star edges (doc_a, doc_b), one per member of
    each (band, bval) bucket to the bucket's minimum id (doc_a < doc_b).

    A bucket of c docs gives c - 1 edges instead of the c(c-1)/2 pairs
    of ``minhash_candidates``, so a hot bucket costs linear work
    without a cap. Every star edge is an exact candidate pair, and a
    bucket's star connects the same docs as its clique, so connected
    components (``dedup_clusters``) equal those of the exact pair list.
    The same pair may appear once per band it shares. One window min
    over (band, bval): a single shuffle, no self-join."""
    from pyspark.sql.window import Window

    banded = band_rows(minhash_signatures(docs, id_col, text_col), id_col, bands)
    rep = F.min(id_col).over(Window.partitionBy("band", "bval"))
    return banded.select(
        rep.alias("doc_a"), F.col(id_col).alias("doc_b")
    ).where("doc_a < doc_b")


def _fp_bit_expr_spark(i: int) -> str:
    """+1/-1 vote from bit i of md5(token): bit (i % 2) of hex nibble
    (i // 2) — 32 nibbles x 2 bits = 64 usable bits, identical
    arithmetic in DuckDB (values 0..15, non-negative, so % 2 agrees)."""
    nib = f"cast(conv(substring(th, {i // 2 + 1}, 1), 16, 10) as int)"
    return f"2 * (shiftright({nib}, {i % 2}) % 2) - 1"


def _fp_bit_expr_duckdb(i: int) -> str:
    nib = f"(('0x' || substr(th, {i // 2 + 1}, 1))::int)"
    return f"2 * (({nib} >> {i % 2}) % 2) - 1"


def _fp_assemble(bits: int) -> str:
    """Sum-of-set-bits fingerprint expression over s0..s{bits-1}.
    Bit 63 is the bigint sign bit: added as I64_MIN so the 64-bit
    fingerprint lands in two's complement without overflow (the band
    extraction masks with & 65535, so sign extension is harmless)."""
    terms = [
        f"(case when s{i} > 0 then "
        + (_I64_MIN if i == 63 else str(1 << i))
        + " else 0 end)"
        for i in range(bits)
    ]
    return " + ".join(terms)


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash fingerprint from whitespace tokens: bit i of md5(token)
    votes +1/-1; fingerprint bit i set iff the sum is positive.
    64-bit by default (2 bits per md5 hex nibble).
    Returns (doc_id, simhash)."""
    toks = docs.selectExpr(
        id_col, f"explode(split({text_col}, ' ')) as tok"
    ).selectExpr(id_col, "md5(tok) as th")
    aggs = [
        F.sum(F.expr(_fp_bit_expr_spark(i))).alias(f"s{i}")
        for i in range(bits)
    ]
    summed = toks.groupBy(id_col).agg(*aggs)
    return summed.selectExpr(
        id_col, f"cast({_fp_assemble(bits)} as bigint) as simhash"
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Word-set Jaccard for consecutive-id doc pairs (a fixed, cheap
    pair generator that still verifies the set-similarity machinery).
    Returns (doc_a, doc_b, n_common, n_a, n_b, jaccard)."""
    words = docs.selectExpr(
        id_col, f"explode(array_distinct(split({text_col}, ' '))) as w"
    )
    sizes = words.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = words.alias("a"), words.alias("b")
    inter = (
        a.join(
            b,
            (F.col(f"b.{id_col}") == F.col(f"a.{id_col}") + 1)
            & (F.col("a.w") == F.col("b.w")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .withColumn("doc_b", F.col("doc_a") + 1)
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            "cast(n_common as double) / (n_a + n_b - n_common) as jaccard",
        )
    )


# --------------------------------------------------- DuckDB oracle SQL

def exact_dedup_sql(source_sql: str = "documents") -> str:
    return f"""
    SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS min_doc
    FROM {source_sql} GROUP BY 1
    """


def minhash_candidates_sql(source_sql: str = "documents") -> str:
    k = SHINGLE_K
    h = hex2int_duckdb(f"substr(text, pos, {k})")
    mh = ", ".join(
        f"min(({a} * h + {b}) % {PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    bands = []
    rows_per = len(MINHASH_A) // 4
    for bi in range(4):
        cols = [f"mh{bi * rows_per + r}" for r in range(rows_per)]
        val = cols[0]
        for c in cols[1:]:
            val = f"(({val}) * {PRIME} + {c})"
        bands.append(f"SELECT doc_id, {bi} AS band, {val} AS bval FROM sig")
    banded = " UNION ALL ".join(bands)
    return f"""
    WITH sh AS (
      SELECT doc_id, {h} % {PRIME} AS h
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS pos
        FROM {source_sql}
      )
    ),
    sig AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
    banded AS ({banded})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    """


def minhash_capped_sql(
    source_sql: str = "documents", max_bucket: int = 4
) -> str:
    """DuckDB twin of ``minhash_candidates(..., max_bucket=...)`` —
    the hot-bucket cap ITSELF oracle-gated: row_number over
    (band, bval) ordered by doc_id, kept-clique pairs for rank <=
    cap, overflow rows pair with the rank-1 representative."""
    base = minhash_candidates_sql(source_sql)
    # reuse the shingle/sig/banded CTE stack, replace the final join
    head = base[: base.index("SELECT DISTINCT")].rstrip()
    return f"""{head},
    ranked AS (
      SELECT doc_id, band, bval,
             row_number() OVER (PARTITION BY band, bval
                                ORDER BY doc_id) AS rk
      FROM banded
    ),
    rep AS (SELECT band, bval, doc_id AS rep_id FROM ranked WHERE rk = 1),
    kept AS (SELECT * FROM ranked WHERE rk <= {max_bucket}),
    kp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    ),
    tails AS (
      SELECT r.rep_id AS doc_a, t.doc_id AS doc_b
      FROM ranked t JOIN rep r ON t.band = r.band AND t.bval = r.bval
      WHERE t.rk > {max_bucket}
    )
    SELECT DISTINCT doc_a, doc_b
    FROM (SELECT * FROM kp UNION ALL SELECT * FROM tails)
    """


def simhash_sql(source_sql: str = "documents") -> str:
    bits = SIMHASH_BITS
    sums = ", ".join(
        f"sum({_fp_bit_expr_duckdb(i)}) AS s{i}" for i in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, md5(unnest(string_split(text, ' '))) AS th FROM {source_sql}
    ),
    summed AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
    SELECT doc_id, CAST({_fp_assemble(bits)} AS BIGINT) AS simhash FROM summed
    """


def ngram_jaccard_sql(source_sql: str = "documents") -> str:
    return f"""
    WITH words AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM {source_sql}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, count(*) AS n_common
      FROM words a JOIN words b ON b.doc_id = a.doc_id + 1 AND a.w = b.w
      GROUP BY 1
    )
    SELECT i.doc_a, i.doc_a + 1 AS doc_b, i.n_common,
           sa.n AS n_a, sb.n AS n_b,
           CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_a + 1
    """


def _components_arrow(batches):
    """mapInArrow body of ``dedup_clusters``' one-task path: every
    (a, b) edge batch of the partition -> (doc_id, cluster) by the
    numpy min-label kernel, in one pass."""
    import numpy as np
    import pyarrow as pa

    from ..core.kernels import min_label_components

    a, b, id_type = [], [], None
    for rb in batches:
        id_type = rb.schema.field("a").type
        a.append(rb.column("a").to_numpy(zero_copy_only=False))
        b.append(rb.column("b").to_numpy(zero_copy_only=False))
    if id_type is None:
        return
    ids, label = min_label_components(np.concatenate(a), np.concatenate(b))
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids, id_type), pa.array(label, id_type)],
        ["doc_id", "cluster"],
    )


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Connected components over the near-dup pair graph — the step a
    real dedup pipeline runs AFTER candidate generation: every doc maps
    to its component's minimum doc id (the canonical representative to
    keep). Returns (doc_id, cluster) for every doc that appears in a
    pair. All labels are exact integers — bit-identical to the DuckDB
    recursive-CTE transitive-closure oracle.

    The edge list is checkpointed once (one evaluation of the caller's
    pair plan), and its size is observed on that same job. Up to
    ``COMPONENTS_TASK_EDGES`` edges, one task runs
    ``kernels.min_label_components`` over all of them
    (``coalesce(1).mapInArrow``): no driver loop, no collect, and the
    result stays lazy. The observed count is an accumulator, which a
    retried task can over-count; it only picks between two exact paths,
    so a wrong count cannot change the result.

    Over the budget, distributed min-label propagation: each round every
    node takes the min of its own label and its neighbors' labels (one
    equi-join + one groupBy over the symmetrized, self-looped edge
    list, localCheckpoint-pinned — the self-loop folds the own label
    into the same aggregation). Each round also pointer-jumps — every
    node takes the label OF its current label node — so convergence is
    O(log diameter) rounds, not O(diameter); labels stay monotone
    decreasing, so the checksum convergence test holds. Raises if
    ``DEDUP_CLUSTERS_MAX_ITERS`` rounds don't converge rather than
    return a wrong partition."""
    from pyspark.sql import Observation

    seen = Observation()
    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .observe(seen, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if seen.get["n"] <= COMPONENTS_TASK_EDGES:
        t = edges.schema["a"].dataType.simpleString()
        return edges.coalesce(1).mapInArrow(
            _components_arrow, f"doc_id {t}, cluster {t}"
        )
    # both directions plus a self-loop per endpoint, from one pass: the
    # per-round neighbor-min then already includes the node's OWN
    # label, so the round is ONE join + ONE groupBy
    edges = (
        edges.selectExpr(
            "inline(array(named_struct('a', a, 'b', b), "
            "named_struct('a', b, 'b', a), named_struct('a', a, 'b', a), "
            "named_struct('a', b, 'b', b)))"
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("lab", F.col("id"))
        .localCheckpoint()
    )
    # convergence via checksum: labels only ever DECREASE, so the
    # label sum is strictly monotone until fixpoint — comparing two
    # scalars replaces a full new-vs-old join every round. decimal(38)
    # so the sum cannot overflow at any plausible id x row scale.
    prev_sum = None
    for _ in range(DEDUP_CLUSTERS_MAX_ITERS):
        # min over (self u neighbors) — the self-loop edge carries the
        # node's own label into the same aggregation
        new = (
            edges.join(
                labels.select(F.col("id").alias("b"), F.col("lab").alias("blab")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("blab").alias("lab"))
            .select(F.col("a").alias("id"), "lab")
        )
        # pointer jump: lab <- min(lab, lab(lab)). Every label is
        # some node's id (min over node ids), so the self-join hits.
        hop = new.select(
            F.col("id").alias("_hop_id"), F.col("lab").alias("_hop_lab")
        )
        new = (
            new.join(hop, new["lab"] == hop["_hop_id"], "left")
            .select(
                "id",
                F.least(
                    F.col("lab"), F.coalesce("_hop_lab", F.col("lab"))
                ).alias("lab"),
            )
        )
        # lazy pin + one action: the convergence checksum's collect is
        # the job that materializes the checkpoint, so each round runs
        # ONE job instead of an eager-materialize job followed by a
        # separate sum job
        new = new.localCheckpoint(eager=False)
        cur_sum = new.agg(
            F.sum(F.col("lab").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = new
        if cur_sum == prev_sum:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("lab").alias("cluster")
            )
        prev_sum = cur_sum
    raise RuntimeError(
        f"dedup_clusters did not converge in {DEDUP_CLUSTERS_MAX_ITERS} rounds"
    )


def closure_sql(
    pairs_sql: str, extra_ctes: str = "", final_sql: str | None = None,
) -> str:
    """Transitive closure by recursive CTE over ANY (doc_a, doc_b)
    pair query: (doc_id, cluster = min reachable id). (Closure is
    quadratic in component size — fine at oracle scale; the Spark side
    is the scale path.) ``final_sql``, when given, replaces the
    default final SELECT and may reference the closure as the ``clus``
    CTE (doc_id, cluster) — for callers that join the components back
    against other CTEs from ``extra_ctes``."""
    default = "SELECT doc_id, cluster FROM clus"
    return f"""
    WITH RECURSIVE {extra_ctes}{"," if extra_ctes else ""} pairs AS (
      {pairs_sql}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    clus AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster
      FROM reach GROUP BY a
    )
    {final_sql or default}
    """


def dedup_clusters_sql(source_sql: str = "documents") -> str:
    """DuckDB twin of MinHash candidates -> connected components."""
    return closure_sql(minhash_candidates_sql(source_sql))


# ------------------------------------------------------- image near-dup

def _fingerprint_band_pairs(
    banded: DataFrame,
    max_hamming: int,
    out_a: str,
    out_b: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Shared band-LSH pair generation over (_id, _fp, band, bval)
    rows: equi-join on (band, bval), refine with exact
    bit_count(a XOR b) <= ``max_hamming``.

    ``max_bucket`` is the same 100 TB hot-bucket valve
    ``minhash_candidates`` carries: a degenerate bucket (near-constant
    images / boilerplate text collapsing to one band value) otherwise
    makes the self-join quadratic in the bucket size. Capping keeps
    the ``max_bucket`` smallest ids per (band, bval); overflow docs
    pair ONLY with the bucket's smallest-id representative (linear),
    still subject to the hamming refine. In the degenerate buckets the
    cap exists for, members are near-identical, so the representative
    edge passes the refine and transitive CLUSTERS are preserved
    (pytest-proven on an identical-fingerprint hot-bucket fixture);
    for genuinely diverse buckets above the cap the truncation trades
    recall for boundedness — the standard LSH-cap contract."""
    tail_pairs = None
    if max_bucket is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "bval").orderBy(F.col("_id").asc())
        ranked = banded.withColumn("_rk", F.row_number().over(w))
        rep = ranked.where("_rk = 1").select(
            "band", "bval",
            F.col("_id").alias("_rid"), F.col("_fp").alias("_rfp"),
        )
        tail_pairs = (
            ranked.where(F.col("_rk") > max_bucket)
            .join(rep, ["band", "bval"])
            .select(
                F.col("_rid").alias(out_a),
                F.col("_id").alias(out_b),
                F.expr("bit_count(_rfp ^ _fp)").cast("long").alias("hamming"),
            )
        )
        banded = ranked.where(F.col("_rk") <= max_bucket).drop("_rk")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias(out_a),
            F.col("b._id").alias(out_b),
            F.expr("bit_count(a._fp ^ b._fp)").cast("long").alias("hamming"),
        )
    )
    if tail_pairs is not None:
        pairs = pairs.unionByName(tail_pairs)
    return pairs.where(F.col("hamming") <= max_hamming).distinct()


def phash_neardup(
    images: DataFrame,
    id_col: str = "image_id",
    hash_col: str = "phash",
    max_hamming: int = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash (the image-payload
    twin of MinHash-LSH): split each 64-bit phash into 4 x 16-bit
    bands; images sharing ANY band value are candidates (equi-join on
    (band, value) — never an all-pairs cross); refine with exact
    bit_count(a XOR b) <= ``max_hamming``.

    Pigeonhole guarantee: any pair within Hamming distance 3 differs
    in at most 3 bands, so at least one band matches — recall is 100%
    for d <= 3 and LSH-probabilistic beyond (same contract as MinHash
    banding). All integer ops, bit-exact vs the DuckDB oracle
    (arithmetic shifts on BIGINT agree across engines).

    ``max_bucket`` caps hot buckets (see ``_fingerprint_band_pairs``);
    None = exact enumeration, the oracle-checked path.

    Returns (img_a, img_b, hamming), img_a < img_b."""
    banded = images.selectExpr(
        f"{id_col} as _id", f"{hash_col} as _fp"
    ).selectExpr(
        "_id", "_fp",
        "explode(array(0, 1, 2, 3)) as band",
    ).selectExpr(
        "_id", "_fp", "band",
        "shiftright(_fp, band * 16) & 65535 as bval",
    )
    return _fingerprint_band_pairs(
        banded, max_hamming, "img_a", "img_b", max_bucket
    )


def phash_neardup_sql(
    source_sql: str, id_col: str = "image_id", hash_col: str = "phash",
    max_hamming: int = 6,
) -> str:
    return f"""
    WITH banded AS (
      SELECT {id_col} AS _id, CAST({hash_col} AS BIGINT) AS _ph,
             band, (CAST({hash_col} AS BIGINT) >> (band * 16)) & 65535 AS bval
      FROM {source_sql}, (SELECT unnest([0, 1, 2, 3]) AS band)
    )
    SELECT DISTINCT a._id AS img_a, b._id AS img_b,
           CAST(bit_count(xor(a._ph, b._ph)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bval = b.bval AND a._id < b._id
    WHERE bit_count(xor(a._ph, b._ph)) <= {max_hamming}
    """


def phash_capped_sql(
    source_sql: str, id_col: str = "image_id", hash_col: str = "phash",
    max_hamming: int = 6, max_bucket: int = 4,
) -> str:
    """DuckDB twin of ``phash_neardup(..., max_bucket=...)`` — the
    cap + hamming-refine interaction oracle-gated: rank-<=cap members
    pair fully, overflow members pair only with the rank-1
    representative, and ALL pairs (tail ones included) pass the exact
    bit_count refine."""
    return f"""
    WITH banded AS (
      SELECT {id_col} AS _id, CAST({hash_col} AS BIGINT) AS _ph,
             band, (CAST({hash_col} AS BIGINT) >> (band * 16)) & 65535 AS bval
      FROM {source_sql}, (SELECT unnest([0, 1, 2, 3]) AS band)
    ),
    ranked AS (
      SELECT _id, _ph, band, bval,
             row_number() OVER (PARTITION BY band, bval ORDER BY _id) AS rk
      FROM banded
    ),
    rep AS (SELECT band, bval, _id AS rid, _ph AS rph
            FROM ranked WHERE rk = 1),
    kept AS (SELECT * FROM ranked WHERE rk <= {max_bucket}),
    kp AS (
      SELECT a._id AS img_a, b._id AS img_b,
             CAST(bit_count(xor(a._ph, b._ph)) AS BIGINT) AS hamming
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.bval = b.bval AND a._id < b._id
    ),
    tails AS (
      SELECT r.rid AS img_a, t._id AS img_b,
             CAST(bit_count(xor(r.rph, t._ph)) AS BIGINT) AS hamming
      FROM ranked t JOIN rep r ON t.band = r.band AND t.bval = r.bval
      WHERE t.rk > {max_bucket}
    )
    SELECT DISTINCT img_a, img_b, hamming
    FROM (SELECT * FROM kp UNION ALL SELECT * FROM tails)
    WHERE hamming <= {max_hamming}
    """


# ---------------------------------------------------- cross-modal dedup

def crossmodal_dedup(
    images: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    hash_col: str = "phash",
    max_hamming: int = 3,
    max_bucket: int | None = MAX_BUCKET_DEFAULT,
) -> DataFrame:
    """Cross-modal near-duplicate clustering over image+caption pairs
    (the LAION-style curation op): a pair is a candidate duplicate if
    EITHER its captions near-dup (MinHash-LSH over the text) OR its
    images near-dup (phash band LSH) — the two edge sources union into
    one graph and connected components pick each cluster's minimum id
    as the representative to keep.

    Input must carry (ordinal-bearing id, caption, phash); ids are the
    numeric image ordinals. The caption side is ``minhash_dedup``'s
    star edges (same components as the exact pairs, linear in bucket
    size); the image side stays pairs, because every pair needs its
    own Hamming refine, and ``max_bucket`` caps its hot buckets (see
    ``_fingerprint_band_pairs``; None = exact enumeration). Returns
    (doc_id, cluster)."""
    base = images.selectExpr(
        f"cast(substring({id_col}, 4) as bigint) as doc_id",
        f"{caption_col} as text",
        f"{hash_col} as phash",
    )
    text_edges = minhash_dedup(base)
    img_pairs = phash_neardup(
        base.selectExpr("doc_id as image_id", "phash"),
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    ).selectExpr("img_a as doc_a", "img_b as doc_b")
    # no pre-distinct: components ignore repeated edges
    return dedup_clusters(text_edges.unionByName(img_pairs))


def crossmodal_dedup_sql(
    values_sql: str, max_hamming: int = 3
) -> str:
    """DuckDB twin: same two pair generators unioned, then the shared
    recursive-CTE closure. ``values_sql`` supplies rows
    (doc_id bigint, text, phash bigint) — e.g. an inlined VALUES list
    of the deterministic synth corpus."""
    img_sql = phash_neardup_sql(
        "imgs", id_col="doc_id", hash_col="phash", max_hamming=max_hamming
    )
    pair_union = f"""
      SELECT doc_a, doc_b FROM ({minhash_candidates_sql('imgs')})
      UNION
      SELECT img_a AS doc_a, img_b AS doc_b FROM ({img_sql})
    """
    return closure_sql(pair_union, extra_ctes=f"imgs AS ({values_sql})")


def band_rows(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 4
) -> DataFrame:
    """LSH band rows (doc_id, band, bval) from signature rows: band
    ``bi`` packs its ``8 // bands`` minhash values into one bigint
    bucket value (the banding ``minhash_candidates`` self-joins on)."""
    rows_per = len(MINHASH_A) // bands
    band_exprs = []
    for bi in range(bands):
        cols = [f"mh{bi * rows_per + r}" for r in range(rows_per)]
        val = cols[0]
        for c in cols[1:]:
            val = f"(({val}) * {PRIME} + {c})"
        band_exprs.append(f"struct({bi} as band, {val} as bval)")
    return signatures.selectExpr(
        id_col, f"explode(array({', '.join(band_exprs)})) as bk"
    ).select(id_col, "bk.band", "bk.bval")


def simhash_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs — the TRUE text twin of
    ``phash_neardup``: split the 64-bit fingerprint into 4 x 16-bit
    bands (65,536 bucket values per band — bucket occupancy falls as
    the corpus grows; the pigeonhole gives 100% recall for Hamming
    distance <= 3), refine with exact bit_count(a XOR b) <=
    ``max_hamming``. All integer. ``max_bucket`` caps hot buckets
    (see ``_fingerprint_band_pairs``); None = exact enumeration, the
    oracle-checked path. Returns (doc_a, doc_b, hamming)."""
    fp = simhash(docs, id_col, text_col)
    banded = fp.selectExpr(
        f"{id_col} as _id", "simhash as _fp",
        "explode(array(0, 1, 2, 3)) as band",
    ).selectExpr(
        "_id", "_fp", "band",
        "shiftright(_fp, band * 16) & 65535 as bval",
    )
    return _fingerprint_band_pairs(
        banded, max_hamming, "doc_a", "doc_b", max_bucket
    )


def simhash_neardup_sql(
    source_sql: str = "documents", max_hamming: int = 3
) -> str:
    return f"""
    WITH fp AS ({simhash_sql(source_sql)}),
    banded AS (
      SELECT doc_id AS _id, simhash AS _fp, band,
             (simhash >> (band * 16)) & 65535 AS bval
      FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band)
    )
    SELECT DISTINCT a._id AS doc_a, b._id AS doc_b,
           CAST(bit_count(xor(a._fp, b._fp)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bval = b.bval AND a._id < b._id
    WHERE bit_count(xor(a._fp, b._fp)) <= {max_hamming}
    """


# ----------------------------------------------------- decontamination

def contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_K,
    min_shared: int = 3,
) -> DataFrame:
    """Train/eval DECONTAMINATION — flag training docs that overlap a
    benchmark set (the leakage check every serious curation pipeline
    runs before training): a doc is contaminated by a benchmark doc
    when they share >= ``min_shared`` distinct character k-shingles.

    100 TB shape: the benchmark side is SMALL by construction (eval
    sets are thousands of docs) — its distinct shingle set broadcasts,
    so the corpus NEVER shuffles before the join: one narrow shingle
    explode (NO corpus-side distinct — that would shuffle the whole
    corpus' shingle multiset), one broadcast-hash-join, then a
    count-DISTINCT agg over the MATCHED rows only (tiny relative to
    the corpus). All-integer md5 shingle hashes, bit-exact vs the
    DuckDB twin.

    A short benchmark doc with fewer than ``min_shared`` distinct
    shingles uses its own shingle count as the threshold instead —
    otherwise a verbatim copy of a short eval item could never be
    flagged.

    Returns (doc_id, bench_id, n_shared),
    n_shared >= least(min_shared, bench doc's distinct shingles)."""
    d = shingle_hashes(docs, id_col, text_col, k)
    bsh = shingle_hashes(bench, id_col, text_col, k).distinct()
    b = bsh.selectExpr(f"{id_col} as bench_id", "h")
    btot = bsh.groupBy(id_col).agg(
        F.count("*").alias("_btot")
    ).selectExpr(f"{id_col} as bench_id", "_btot")
    return (
        d.join(F.broadcast(b), "h")
        .groupBy(id_col, "bench_id")
        .agg(F.countDistinct("h").alias("n_shared"))
        .join(F.broadcast(btot), "bench_id")
        .where(F.expr(f"n_shared >= least({min_shared}, _btot)"))
        .select(id_col, "bench_id", "n_shared")
    )


def contamination_sql(
    docs_sql: str, bench_sql: str, k: int = SHINGLE_K, min_shared: int = 3
) -> str:
    h = hex2int_duckdb(f"substr(text, pos, {k})")
    sh = f"""
      SELECT DISTINCT doc_id, {h} % {PRIME} AS h
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS pos
        FROM {{src}}
      )
    """
    return f"""
    WITH d AS ({sh.format(src=docs_sql)}),
    b AS (SELECT doc_id AS bench_id, h FROM ({sh.format(src=bench_sql)})),
    btot AS (SELECT bench_id, count(*) AS _btot FROM b GROUP BY 1)
    SELECT d.doc_id, b.bench_id, count(DISTINCT d.h) AS n_shared
    FROM d JOIN b USING (h) JOIN btot ON b.bench_id = btot.bench_id
    GROUP BY 1, 2, btot._btot
    HAVING count(DISTINCT d.h) >= least({min_shared}, btot._btot)
    """


def word_span_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = 8,
) -> DataFrame:
    """Word ``w``-gram spans -> 60-bit md5 hashes, one row per span
    POSITION (occurrences are kept, unlike the distinct'd shingle
    sets). A doc shorter than ``w`` words contributes its whole text
    as a single span. Narrow op: split + in-row sequence explode, no
    shuffle. The span key is a 128->60-bit md5 prefix of the joined
    words — the same engine-identical hash family every other dedup
    op here uses (full 60 bits, no mod-PRIME reduction: span streams
    are larger than shingle sets and birthday collisions at 1e9 would
    show up at corpus scale)."""
    return docs.selectExpr(
        id_col, f"split({text_col}, ' ') as _w"
    ).selectExpr(
        id_col,
        f"explode(sequence(1, greatest(size(_w) - {w - 1}, 1))) as pos",
        "_w",
    ).selectExpr(
        id_col,
        hex2int_spark(f"array_join(slice(_w, pos, {w}), ' ')") + " as h",
    )


def dup_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = 8, flag_milli: int = 500,
) -> DataFrame:
    """Cross-document duplicated-span detection — the map-reduce
    relaxation of exact-substring dedup (ExactSubstr, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"):
    instead of a suffix array over the concatenated corpus, every
    word ``w``-gram occurrence is a span, and a span is DUPLICATED
    when it occurs in >= 2 distinct docs. Per doc: total spans,
    duplicated spans, the duplicated fraction (exact milli integer),
    and a flag at ``flag_milli``.

    Complements minhash (doc-level resemblance) and rep_filter
    (intra-doc repetition): this finds verbatim cross-doc boilerplate
    even when the containing docs are globally dissimilar.

    100 TB shape: one narrow span explode, one hash-agg on
    (h, doc) — map-side combine absorbs intra-doc repeats — one
    hash-agg on h for the doc count, an equi-join back on h (AQE
    reuses the exchange), and a final hash-agg by doc. The span
    stream shuffles on h exactly once; that shuffle IS the operator
    (cross-doc equality cannot be decided locally). No windows, no
    Python, no driver state."""
    sp = word_span_hashes(docs, id_col, text_col, w)
    hd = sp.groupBy("h", id_col).agg(F.count("*").alias("cnt"))
    hdocs = hd.groupBy("h").agg(F.count("*").alias("n_docs"))
    return (
        hd.join(hdocs, "h")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_spans"),
            F.sum(F.expr("if(n_docs >= 2, cnt, 0)")).alias("n_dup_spans"),
        )
        .selectExpr(
            id_col,
            "cast(n_spans as bigint) as n_spans",
            "cast(n_dup_spans as bigint) as n_dup_spans",
            "cast(n_dup_spans * 1000 / n_spans as bigint) as dup_milli",
            f"n_dup_spans * 1000 >= {flag_milli} * n_spans as flagged",
        )
    )


def dup_spans_sql(
    source_sql: str = "documents", w: int = 8, flag_milli: int = 500,
) -> str:
    h = hex2int_duckdb(f"array_to_string(_w[pos:pos + {w - 1}], ' ')")
    return f"""
    WITH sp AS (
      SELECT doc_id, {h} AS h
      FROM (
        SELECT doc_id, string_split(text, ' ') AS _w,
               unnest(generate_series(
                 1, greatest(length(string_split(text, ' ')) - {w - 1}, 1)
               )) AS pos
        FROM {source_sql}
      )
    ),
    hd AS (SELECT h, doc_id, count(*) AS cnt FROM sp GROUP BY 1, 2),
    hh AS (SELECT h, count(*) AS n_docs FROM hd GROUP BY 1),
    agg AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
               AS n_dup_spans
      FROM hd JOIN hh USING (h) GROUP BY 1
    )
    SELECT doc_id, n_spans, n_dup_spans,
           CAST(floor(n_dup_spans * 1000.0 / n_spans) AS BIGINT) AS dup_milli,
           n_dup_spans * 1000 >= {flag_milli} * n_spans AS flagged
    FROM agg
    """


# -------------------------------------------------- segment-level dedup

def segment_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = 10, min_docs: int = 2, min_words: int = 10,
) -> DataFrame:
    """Repeated-segment removal — the line-level dedup of
    CCNet/RefinedWeb (Wenzek et al. 2020; Penedo et al. 2023) for a
    corpus without line structure: each doc splits into consecutive
    ``w``-word segments, a segment occurring in >= ``min_docs``
    DISTINCT docs (headers, footers, nav boilerplate) is deleted from
    every doc, the survivors reassemble in position order, and docs
    left with < ``min_words`` words drop entirely. Unlike
    ``dup_spans`` (which only SCORES cross-doc duplication) this
    REWRITES the corpus — the stage that runs before doc-level dedup
    in a real pretraining pipeline.

    Output: (doc_id, text, n_segs, n_removed, n_words).

    100 TB shape: one narrow segment explode (n/w rows per doc — w
    times lighter than the span stream), one count-distinct hash-agg
    on the segment hash (two-phase: partial distinct per partition),
    one equi-join back on the hash, and two per-doc hash-aggs (stats
    + ordered reassembly via sort_array(collect_list) — per-doc data,
    never a window over the corpus). The segment stream shuffles on
    its hash exactly once; no driver state, no Python.
    """
    segs = docs.selectExpr(
        id_col, f"split({text_col}, ' ') as _w"
    ).selectExpr(
        id_col,
        f"explode(sequence(0, (size(_w) + {w - 1}) div {w} - 1)) as pos",
        "_w",
    ).selectExpr(
        id_col, "pos",
        f"array_join(slice(_w, pos * {w} + 1, {w}), ' ') as seg",
    ).selectExpr(
        id_col, "pos", "seg",
        hex2int_spark("seg") + " as h",
    )
    freq = segs.groupBy("h").agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    tagged = segs.join(freq, "h")
    # ONE aggregation produces stats AND the reassembled text:
    # collect_list skips NULLs, so gating the struct with `if` keeps
    # only surviving segments — no second pass over the exploded
    # stream, no stats<->kept join (plan audit: the two-consumer
    # version recomputed the explode subtree 4x)
    keep_struct = f"if(n_docs < {min_docs}, struct(pos, seg), null)"
    out = tagged.groupBy(id_col).agg(
        F.count("*").alias("n_segs"),
        F.sum(F.expr(f"if(n_docs >= {min_docs}, 1, 0)")).alias("n_removed"),
        F.expr(
            f"array_join(transform(array_sort(collect_list({keep_struct}))"
            ", x -> x.seg), ' ')"
        ).alias("text"),
        F.expr(
            f"sum(if(n_docs < {min_docs}, size(split(seg, ' ')), 0))"
        ).alias("n_words"),
    )
    return (
        out.selectExpr(
            id_col,
            "text",
            "cast(n_segs as bigint) as n_segs",
            "cast(n_removed as bigint) as n_removed",
            "cast(n_words as bigint) as n_words",
        )
        .where(f"n_words >= {min_words}")
    )


def segment_dedup_sql(
    source_sql: str = "documents",
    w: int = 10, min_docs: int = 2, min_words: int = 10,
) -> str:
    h = hex2int_duckdb("seg")
    return f"""
    WITH segs AS (
      SELECT doc_id, pos,
             array_to_string(_w[pos * {w} + 1 : pos * {w} + {w}], ' ') AS seg
      FROM (
        SELECT doc_id, _w,
               unnest(generate_series(
                 0, (length(_w) + {w - 1}) // {w} - 1
               )) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS _w
              FROM {source_sql})
      )
    ),
    hseg AS (SELECT doc_id, pos, seg, {h} AS h FROM segs),
    freq AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM hseg GROUP BY 1),
    tagged AS (SELECT * FROM hseg JOIN freq USING (h)),
    stats AS (
      SELECT doc_id, count(*) AS n_segs,
             sum(CASE WHEN n_docs >= {min_docs} THEN 1 ELSE 0 END)
               AS n_removed
      FROM tagged GROUP BY 1
    ),
    kept AS (
      SELECT doc_id,
             string_agg(seg, ' ' ORDER BY pos) AS text,
             sum(length(string_split(seg, ' '))) AS n_words
      FROM tagged WHERE n_docs < {min_docs} GROUP BY doc_id
    )
    SELECT doc_id, coalesce(text, '') AS text,
           CAST(n_segs AS BIGINT) AS n_segs,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(coalesce(n_words, 0) AS BIGINT) AS n_words
    FROM stats LEFT JOIN kept USING (doc_id)
    WHERE coalesce(n_words, 0) >= {min_words}
    """
