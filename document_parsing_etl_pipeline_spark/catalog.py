"""Table catalog over the driver-generated parquet test data.

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file/dir per table under an sf dir.

``load_table`` is a session catalog. Each ``(applicationId, absolute
table path)`` is resolved once (``spark.read.parquet``: a listing plus a
schema-inference job) and the resulting DataFrame is kept together with
the table's file-set fingerprint, the sorted ``(path, size, mtime_ns)``
of every file: one ``os.stat`` for a single-file ``name.parquet``, an
``os.walk`` for a directory table. A later call returns that same
DataFrame, starting no Spark job, while the fingerprint is unchanged;
when it differs (a rewritten, re-generated or overwritten table) the
table is resolved again and the entry replaced. A path the local
filesystem cannot see (a deleted table, a remote URI) has no
fingerprint and is read on every call, so it raises or lists exactly
as a plain read would. The ``events`` normalization, and the session
conf it needs, run only on a resolve. Two calls for the same table
share attribute ids: a query joining a table with itself must
``alias`` both sides and qualify its columns.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# resolved tables: (applicationId, absolute path) -> (fingerprint, df)
_RESOLVED: dict = {}

# decision memo for spread_scan: (applicationId, path-ish key) ->
# bool, so the plan->RDD partition probe runs once per session per
# relation, not once per query build
_SPREAD_DECISION: dict = {}


def _fingerprint(path: str) -> tuple | None:
    """Sorted ``(path, size, mtime_ns)`` of every file of a table, or
    None when the local filesystem cannot see it (or it changes while
    being walked)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_size, st.st_mtime_ns),)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                fs = os.stat(f)
                files.append((f, fs.st_size, fs.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    # taken before the read: a file replaced during it re-resolves on
    # the next call instead of being served under the new fingerprint
    fp = _fingerprint(path)
    hit = _RESOLVED.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    df = _resolve(spark, path, name)
    if fp is None:
        _RESOLVED.pop(key, None)
    else:
        _RESOLVED[key] = (fp, df)
    return df


def _resolve(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has shipped with two physical types for `ts`
        # across driver generations: TIMESTAMP(NANOS) (readable only as
        # long via the legacy conf) and TIMESTAMP(MICROS) (read as
        # TIMESTAMP_NTZ). All queries derive epoch micros with
        # `ts div 1000`, so normalize both to nanos-as-long here.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "timestamp_ntz":
            # NTZ wall-clock == UTC epoch for this data; DuckDB's
            # epoch_us(ts) reads the same wall clock, so oracles agree.
            # timestampdiff over two NTZ values is pure wall-clock
            # arithmetic — independent of spark.sql.session.timeZone
            # (a cast to LTZ here would silently shift every timestamp
            # in a session not pinned to UTC).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                ) * F.lit(1000),
            )
        elif ts_type != "long":
            # LTZ (isAdjustedToUTC micros): unix_micros reads the
            # absolute instant — also timezone-independent
            df = df.withColumn(
                "ts", F.unix_micros(F.col("ts")) * F.lit(1000)
            )
        return df
    return spark.read.parquet(path)


def spread_scan(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Raise MAP-SIDE parallelism for compute-heavy pipelines whose
    source scan has fewer splits than the session's parallelism.

    The driver's test tables are single-row-group parquet files, so a
    scan yields 1-3 tasks no matter what maxPartitionBytes says —
    every tokenize/signature pipeline over documents then runs its
    regex+md5 work on one core (measured: the 8-seed minhash build
    was 5.8 s single-task vs sub-second spread). Guide §2.5 calls
    this input skew ("one huge unsplittable file... repartition
    immediately after the read").

    Scale-adaptive by construction, not a local[32] constant: the
    condition compares the scan's actual split count against
    defaultParallelism, so on a production corpus (files >> one
    split per core) it is a NO-OP — no added exchange, no text
    shuffle at 100 TB; at the driver's low-core bench leg the target
    tracks the core count. Hash-repartition on ``key`` keeps row
    placement deterministic under task retries (guide §2.5 on
    round-robin + rand)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # The split-count probe (plan -> RDD physical planning) is
    # memoized per (session, target, source file set): split layout is
    # a property of the files + session scan confs, not of the
    # projection above the scan, so one probe per relation per session
    # serves every query build (r13 advice: the dict existed unused).
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    memo_key = (
        (sc.applicationId, target, tuple(sorted(files))) if files else None
    )
    need = _SPREAD_DECISION.get(memo_key) if memo_key is not None else None
    if need is None:
        need = df.rdd.getNumPartitions() < target
        if memo_key is not None:
            _SPREAD_DECISION[memo_key] = need
    if not need:
        return df
    return df.repartition(target, F.col(key))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
