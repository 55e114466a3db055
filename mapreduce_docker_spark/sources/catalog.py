"""Fixture-table catalog: parquet sources with schema normalization.

Replaces the reference's source bootstrap (download + unzip + glob scan,
reference coordinator.py:20-44) for the driver's parquet fixtures
(TESTDATA.md): ``spark.read.parquet`` provides the file discovery, splits,
predicate pushdown and column pruning that the reference hand-rolled or
lacked entirely.

Normalization handles both fixture generations: ``events.ts`` written as
TIMESTAMP(NANOS) (Spark cannot scan it natively; with
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a raw ns
LongType and is floor-divided to µs — the exact truncation DuckDB applies
casting TIMESTAMP_NS -> TIMESTAMP), and timestamps written as plain
µs-without-timezone (arrive as TIMESTAMP_NTZ under Spark 4's NTZ
inference; cast to TIMESTAMP under the pinned-UTC session tz, the same
instant DuckDB's naive read yields). Either way engine and oracle see
identical values.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# dims small enough to broadcast at ANY scale factor (bounded cardinality:
# region=5, nation=25 are fixed-size in TPC-H-style schemas). customer /
# supplier / part grow with sf, so they are NOT hinted here — Catalyst + AQE
# decide from stats.
BROADCAST_SAFE = frozenset({"region", "nation"})


# Runtime-settable confs the engine needs regardless of who built the
# SparkSession. The driver contract hands us an EXTERNAL vanilla session
# (no engine defaults), so relying on session.py's builder confs breaks
# there: events.parquet is INT64 TIMESTAMP(NANOS) and is unreadable without
# nanosAsLong, and event-time window bucketing (F.window) is tz-sensitive,
# so the session tz is pinned to UTC to match the tz-naive DuckDB oracle.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # TIMESTAMP (ltz) columns otherwise write as legacy INT96, which has no
    # min/max stats — sinks would silently lose rowgroup/range pruning
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


# SparkContext application ids that already had the package zip shipped.
_SHIPPED_APPS: set[str] = set()
# clients sharing a fresh session: one zip build, one addPyFile per app
_SHIP_LOCK = threading.Lock()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers (the ``--py-files`` pattern).

    Functions passed to applyInPandas / mapInPandas / UDTFs that live in
    this package are pickled BY REFERENCE, so the executor-side Python
    worker must be able to ``import mapreduce_docker_spark``. When the
    caller's harness runs from a different cwd (the driver contract makes
    no promise), the package directory is not on the worker's sys.path —
    addPyFile distributes a zip and prepends it, exactly what
    ``spark-submit --py-files`` does on a real cluster.
    """
    app_id = spark.sparkContext.applicationId
    import tempfile
    import zipfile

    import mapreduce_docker_spark as pkg

    with _SHIP_LOCK:
        if app_id in _SHIPPED_APPS:
            return
        pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
        zpath = os.path.join(tempfile.gettempdir(), f"mds_pkg_{os.getpid()}.zip")
        if not os.path.exists(zpath):
            # temp name + rename: zpath never holds a partial archive
            tmp = f"{zpath}.tmp"
            with zipfile.ZipFile(tmp, "w") as z:
                for root, _dirs, files in os.walk(pkg_dir):
                    if "__pycache__" in root:
                        continue
                    for fname in files:
                        if fname.endswith(".py"):
                            full = os.path.join(root, fname)
                            rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                            z.write(full, rel)
            os.replace(tmp, zpath)
        spark.sparkContext.addPyFile(zpath)
        # recorded only after addPyFile succeeded: a failed ship retries
        _SHIPPED_APPS.add(app_id)


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply engine-required runtime confs to any caller-provided session."""
    for key, val in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != val:
                spark.conf.set(key, val)
        except Exception:  # pragma: no cover - conf locked down by caller
            pass  # fall through: the read below gives the real error
    try:
        _ship_package(spark)
    except Exception:  # pragma: no cover - zip/addPyFile denied
        pass  # workers sharing the driver's cwd still import the package


def fixture_digest(sf_dir: str, name: str) -> str:
    """Cheap content digest of one fixture table: (relpath, size, mtime_ns).

    The test-data generator rewrites fixtures IN PLACE between rounds, so
    anything cached per fixture (a staged zip, a persisted per-doc base)
    must key on content, not path — a path-keyed cache would keep serving
    the previous round's data. Stat-level hashing detects a rewrite without
    reading file bytes; works for single-file and directory-style parquet.
    """
    import hashlib

    src = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    paths = (
        [
            os.path.join(dirpath, f)
            for dirpath, _, files in os.walk(src)
            for f in sorted(files)
        ]
        if os.path.isdir(src)
        else [src]
    )
    parts = [src]
    for p in sorted(paths):
        st = os.stat(p)
        parts.append(f"{os.path.relpath(p, src)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing physical-type quirks."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns -> µs truncation via INTEGER division (DIV): float division here
        # would lose low bits at ~1.7e18 ns and drift ±1µs from DuckDB's
        # parquet reader, which truncates exactly.
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    # fixtures written as plain µs-without-timezone arrive as TIMESTAMP_NTZ
    # under Spark 4's NTZ inference; normalize to TIMESTAMP so tz-typed
    # functions (unix_micros, F.window, ...) resolve. The session tz is
    # pinned UTC (_RUNTIME_CONFS), so the cast reinterprets the same wall
    # clock as the same UTC instant — values identical to DuckDB's naive
    # TIMESTAMP read of the same file.
    for fname, ftype in df.dtypes:
        if ftype == "timestamp_ntz":
            df = df.withColumn(fname, F.col(fname).cast("timestamp"))
    return df


def scatter(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition to full parallelism IF the scan under-splits.

    Small fixture files are a single parquet row group, so FileSourceScan
    yields ONE input split and every downstream map-side expression (md5,
    tokenize, cosine) runs on one core. CPU-heavy per-row operators call this
    right after the scan. At production scale the condition is false — a
    100 TB input arrives as ~1e5 splits >= cores — so no shuffle is added
    where the scan already parallelizes; this mirrors the reference's fixed
    50 MB chunking (coordinator.py:11,47-60), which guaranteed >= num_workers
    chunks on any real corpus.

    ``key`` (r14 opt, guide §2.4 "two operations keyed the same way can
    share one exchange"): callers whose first wide operation groups by a
    column of the scanned row (the per-doc signature/metric aggregations
    all key on ``doc_id``) pass it here, so the parallelism shuffle IS the
    aggregation exchange — hashpartitioning(key) satisfies the
    ClusteredDistribution of every downstream groupBy whose keys are a
    superset, removing one Exchange per pipeline (measured at sf0.1:
    dedup_minhash_pairs 1.509 -> 1.102 s, bloom probe 0.853 -> 0.758 s,
    outputs bit-identical). It also skips round-robin's
    sortBeforeRepartition local sort. The key must be deterministic
    (guide §2.5: never rand-derived) and ~unique per row so balance
    matches round-robin; at scale this path no-ops like the keyless one.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    max_bytes = (
        int(raw[:-1]) * units[raw[-1]] if raw[-1] in units else int(raw)
    )
    # estimate split count from file sizes — avoids a plan->RDD conversion;
    # single-row-group files can't split, so over-estimating splits (and
    # skipping the repartition) is the safe direction only at real scale,
    # where per-file size >> maxPartitionBytes anyway
    est_splits = 0
    for path in df.inputFiles():
        local = path.removeprefix("file:")
        try:
            est_splits += max(1, os.path.getsize(local) // max_bytes)
        except OSError:
            return df  # non-local source: trust the scan's own splitting
        if est_splits >= target:
            return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def register_views(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Register fixture tables as temp views.

    ``tables=None`` registers all of them; queries that know their input
    set pass only what they touch, so an unreadable fixture can never fail
    an unrelated query (failures stay isolated to the table actually used).
    """
    out = {}
    for name in tables if tables is not None else TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
