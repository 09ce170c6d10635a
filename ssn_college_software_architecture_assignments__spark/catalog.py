"""Fixture/table catalog.

The driver's verifiable data lake is ten parquet tables per scale factor
(``TESTDATA.md``): a TPC-H-ish star schema (region nation customer supplier
part orders lineitem) plus events / documents / embeddings. The reference's
``<connector>_raw`` collections (``/root/reference/README.md:27``) map to
tables in this catalog; analytics queries address them by name.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import tune_session

TABLE_NAMES = (
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


# session -> {path: (file signature, schema)}; one entry per path, and the
# entries die with their session
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _file_signature(path: str) -> tuple | None:
    """``(name, mtime_ns, size)`` of every leaf file under ``path`` (the
    file itself for a single-file table), or None when the path is not a
    local file or directory, or changes while it is listed."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((path, st.st_mtime_ns, st.st_size),)
        if not os.path.isdir(path):
            return None
        sig = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                full = os.path.join(root, name)
                st = os.stat(full)
                sig.append((full, st.st_mtime_ns, st.st_size))
        return tuple(sig)
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per session.

    Schema inference reads the parquet footers in a Spark job (~70 ms per
    fixture table on a 4-core host), and every registry dispatch builds a
    fresh ``Catalog``. The inferred schema is cached per session and path,
    keyed on the session, the path and the signature of its leaf files
    (name, ``mtime_ns`` and size of each), so a rewritten table is inferred
    again and its new signature replaces the old entry. Paths that are not
    local files (object stores, globs) are read uncached."""
    sig = _file_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(spark, {}).get(path)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS.setdefault(spark, {})[path] = (sig, df.schema)
    return df


class Catalog:
    """Lazy accessor for the per-scale-factor parquet tables.

    ``Catalog(spark, sf_dir).lineitem`` returns the lineitem DataFrame;
    reads go through :func:`read_parquet`, so each table's schema is
    inferred once per session (keyed on session, path and file signature)
    and Catalyst retains full predicate pushdown / column pruning /
    partition pruning on every scan.

    A driver-provided session gets only the runtime confs
    (``tune_session``); the generated-code cache size is a static conf,
    so only sessions that ``build_session`` creates have it.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        tune_session(spark)
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        # Cache DataFrames per table so two accesses return the SAME plan
        # (self-referencing joins need identical attribute ids).
        self._frames: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in TABLE_NAMES:
            raise KeyError(f"unknown fixture table: {name!r}")
        if name not in self._frames:
            df = read_parquet(self.spark, f"{self.sf_dir}/{name}.parquet")
            self._frames[name] = self._normalize(df)
        return self._frames[name]

    @staticmethod
    def _normalize(df: DataFrame) -> DataFrame:
        """Normalize ingest-side type quirks (the reference's Transform
        stage handles "compatibility" coercions — README.md:22).

        Parquet TIMESTAMP(NANOS) surfaces differently across Spark
        builds: as raw nanos (``nanosAsLong``, set in tune_session) on
        some, natively as a µs-truncated TIMESTAMP_NTZ on others. Both
        are normalized to a session-zone TIMESTAMP — the long via
        integer division (floor — matches DuckDB's CAST(ns AS
        TIMESTAMP)), the NTZ via a cast that is value-identical because
        the session is pinned UTC. Downstream operators may then rely on
        TimestampType (watermarks and unix_micros reject NTZ)."""
        out = df
        for field in df.schema.fields:
            if field.name == "ts" and isinstance(field.dataType, T.LongType):
                out = out.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif field.name == "ts" and isinstance(
                field.dataType, T.TimestampNTZType
            ):
                out = out.withColumn("ts", F.col("ts").cast("timestamp"))
        return out

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        """Register every table as a temp view so ``spark.sql`` queries and
        DataFrame queries see identical data (SURVEY.md §3.2 E2)."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread compute-heavy map stages across cores when the scan cannot.

    The local fixtures are single-file, single-row-group parquet, so a scan
    yields ONE task no matter what maxPartitionBytes says — any expensive
    per-row work (hashing, shingling, decode UDFs) would run on one core.
    On a real lake the input arrives in thousands of splits and this is a
    no-op; we only repartition when the scan gives fewer splits than
    requested, so no shuffle is ever added to an already-parallel input."""
    from .session import default_parallelism

    target = min_partitions or default_parallelism()
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
