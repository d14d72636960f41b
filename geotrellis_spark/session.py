"""SparkSession builder tuned for the engine.

Scale notes (100 TB design, local[32] testing):
- AQE on: runtime coalescing + skew-join splitting backs up our explicit
  salting of hot cells.
- Arrow enabled: every per-tile kernel crosses to Python as Arrow
  batches (vectorized pandas UDFs), never per-row pickling.
- shuffle.partitions defaults to cores locally; on a real cluster set
  it ~2-3x total executor cores (or rely on AQE coalescing from a
  higher initial number).
- Session timezone pinned to UTC: Spark timestamps are session-TZ,
  DuckDB's are UTC-naive — pinning makes oracle comparisons exact.
- Python workers run under the engine's daemon module
  (``geotrellis_spark.pydaemon``), which stops PySpark's per-task
  ``importlib.invalidate_caches()`` from re-reading ``pyspark.zip`` and
  the spark-core jar: a Python task's fixed cost falls from ~0.3 to
  ~0.05 worker CPU s. ``spark.python.daemon.module`` is a static conf,
  so a session not built here still pays the old cost.
- Spark's code-generation cache (``spark.sql.codegen.cache.maxEntries``,
  static, 100 entries by default) is sized to hold every class one
  session compiles. The spatial queries' warm-up alone compiles more
  than 100, so at the default the timed queries found their classes
  evicted and compiled them again on every call.
- Parquet tables the engine reads take their schema from one data
  file's footer, read on the driver (``read_parquet``). A schema-less
  ``spark.read.parquet`` runs a Spark job to read that footer, 75-150
  ms of CPU per read on local[4] against 9-15 ms with the schema given.
  Reads of caller-given paths keep Spark's inference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Spark's code-generation cache size (spark.sql.codegen.cache.maxEntries,
# default 100). Sized from a count with an unbounded cache (local[4]):
# two passes over the query registry at sf0.01 compile 990 distinct
# classes, a batch run 140 and a spatial_query run 108, so one session
# doing all three compiles at most ~1,240; 2,000 leaves headroom.
CODEGEN_CACHE_ENTRIES = 2000


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app: str = "geotrellis_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # make the package importable in executor python workers regardless
    # of the caller's cwd (local-mode analog of spark-submit --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )
    # one BLAS thread per python worker: N workers x M BLAS threads
    # oversubscribes the box and *reduces* throughput as cores grow
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # glibc malloc mmap()s every large (>=128KB) block and munmap()s it
    # on free; at high worker counts the resulting TLB-shootdown IPIs
    # put the box at 60-85% SYSTEM time and throughput *drops* with
    # cores. Keep big blocks on the heap and never trim, so Arrow/numpy
    # buffers are reused in user space. (Measured on local[32]: tiling
    # 86s -> with this, scales instead of inverting.)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    # pyarrow's bundled jemalloc mmap/munmaps its way around the glibc
    # tunables above — route Arrow buffers through the system allocator
    # so the same heap-reuse applies to them
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
    )
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r6): lowering spark.sql.files.openCostInBytes to split
        # small files finer was A/B'd and REJECTED: these single-file
        # tables hold 1-2 parquet row groups, and parquet cannot split
        # below row-group granularity — the extra splits come back
        # EMPTY (one split owns the row-group midpoint and reads
        # everything), so the conf manufactures fake parallelism and
        # defeats the row-group-aware repartition guard that actually
        # fixes scan starvation (plans/driver_queries._t).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image rows are ~35-130KB: 4096-row Arrow batches would be
        # 100MB+ per concurrent task -> GC thrash at high parallelism.
        # ~128 rows x 32 tasks stays in the hundreds of MB.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "128"),
        )
        .config("spark.driver.memory", driver_mem)
        # MaxDirectMemorySize defaults to the heap size; 32 concurrent
        # Arrow stream readers exhaust it on large-binary columns and
        # netty falls into System.gc() retry loops — measured 6x
        # slowdown at local[32] (22.7s -> 6.1s on a 4GB binary-ingest
        # repro). Pin the heap too so G1 doesn't breathe under byte[]
        # churn. A modest heap beats a huge one here: full GCs stay
        # short and the page-zeroing surface stays small.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:MaxDirectMemorySize="
            + os.environ.get("SPARK_GRAFT_DIRECT_MEM", "24g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "geotrellis_spark.pydaemon")
        # the spatial_query warm-up alone compiles over 100 classes, so
        # at Spark's default the timed queries recompiled theirs on
        # every call. Static conf: sessions not built here keep 100.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _arrow_table(rows, schema: str):
    """(Arrow table, Spark struct) of driver-side ``rows`` (tuples in
    the column order of the DDL ``schema``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return table, struct


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in the column order
    of the DDL ``schema``), shipped to the JVM as an Arrow table.

    ``spark.createDataFrame(list, schema)`` goes through
    ``sc.parallelize`` and an identity ``map``, so even one row starts
    Python-worker tasks on every default partition (~1 CPU s per call
    on local[4]). The Arrow-table path is JVM-only whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says; rows and schema
    come out the same as the list path's."""
    table, struct = _arrow_table(rows, schema)
    return spark.createDataFrame(table, struct)


def _require_local(path: str) -> None:
    if "://" in path:
        raise ValueError(
            f"{path}: driver-side Parquet I/O takes local paths only"
        )


def append_local_parquet(path: str, rows, schema: str) -> None:
    """Append driver-side ``rows`` to the Parquet table directory
    ``path`` as one new file, written from the driver: no Spark job.

    The rows build the same Arrow table as ``local_df``'s, so
    ``spark.read.parquet(path)`` reads them back with the DDL
    ``schema``'s types. The file is written under a name starting with
    ``.``, which Spark and ``pyarrow.dataset`` skip, then renamed to
    ``part-<uuid>.parquet``: a reader never sees a half-written file.
    Local paths only; a cluster filesystem (S3, HDFS) would write
    through a ``pyarrow.fs`` filesystem instead of ``os``."""
    import uuid

    import pyarrow.parquet as pq

    _require_local(path)
    table, _ = _arrow_table(rows, schema)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def parquet_footers(path: str, partitions: str):
    """(partition values, footer) of every data file of the
    hive-partitioned Parquet table under the local directory ``path``,
    read from the files' footers: no Spark job, no data page read.

    ``partitions`` is the DDL of the partition columns (e.g.
    ``"part int"``); their values are decoded from the directory names
    as Spark escapes them (``layer=a%3Ab`` is ``a:b``). Names starting
    with ``.`` or ``_`` are skipped, as Spark skips them. The footer is
    a ``pyarrow.parquet.FileMetaData``: row counts and per-row-group
    column statistics."""
    import pyarrow.dataset as ds

    _require_local(path)
    schema = _arrow_table([], partitions)[0].schema
    tbl = ds.dataset(
        path, format="parquet",
        partitioning=ds.partitioning(schema, flavor="hive"),
    )
    for frag in tbl.get_fragments():
        yield ds.get_partition_keys(frag.partition_expression), frag.metadata


# the footer key under which Spark stores the schema it wrote, as JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _skipped(name: str) -> bool:
    # Spark's listing skips these (``_`` unless it names a partition)
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def parquet_footer(path: str):
    """Footer (``pyarrow.parquet.FileMetaData``) of the first data file
    of the local Parquet table ``path`` — a file, or a directory tree
    walked in sorted order, skipping names as Spark's listing does —
    or None if it has no data file."""
    import pyarrow.parquet as pq

    _require_local(path)
    if os.path.isfile(path):
        return pq.read_metadata(path)
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _skipped(d))
        for f in sorted(files):
            if not _skipped(f):
                return pq.read_metadata(os.path.join(root, f))
    return None


def _footer_schema(spark: SparkSession, footer):
    """The Spark schema that schema inference gives for a Parquet file
    with this footer, or None where the Arrow mapping could differ
    from Spark's reading (INT96 and nanosecond timestamps, types that
    have no Spark type)."""
    import json

    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    kv = footer.metadata or {}
    if _SPARK_SCHEMA_KEY in kv:
        return StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY]))
    for c in footer.schema:
        if c.physical_type == "INT96" or "nanoseconds" in str(c.logical_type):
            return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    try:
        return from_arrow_schema(
            footer.schema.to_arrow_schema(),
            prefer_timestamp_ntz=ntz.lower() == "true",
        )
    except TypeError:
        return None


def read_parquet(
    spark: SparkSession, path: str, partitions: str | None = None,
    footer=None,
) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from one data
    file's footer on the driver, so building the read runs no Spark
    job (schema inference runs one to read that same footer).

    As Spark without ``mergeSchema`` does, one file gives the schema:
    the schema Spark wrote into the footer if the file is Spark's,
    else the footer's Arrow schema mapped as Spark maps Parquet types.
    ``partitions`` is the DDL of the hive partition columns (e.g.
    ``"part int"``), appended after the data columns as Spark appends
    them; ``footer`` is ``parquet_footer(path)`` when the caller has
    read it already. A table with no data file, or with a type the
    Arrow mapping could get wrong, goes to Spark's inference, which
    raises its own error for a missing or empty table. Local paths
    only."""
    from pyspark.sql.types import DataType, StructType

    if footer is None:
        footer = parquet_footer(path)
    schema = None if footer is None else _footer_schema(spark, footer)
    if schema is None:
        return spark.read.parquet(path)
    if partitions:
        schema = StructType(schema.fields + DataType.fromDDL(partitions).fields)
    return spark.read.schema(schema).parquet(path)
