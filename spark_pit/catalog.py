"""Table resolution: Iceberg when available, parquet otherwise.

The north rule targets Iceberg snapshots of the image+caption table; this
sandbox ships no Iceberg runtime jar (verified: /opt/spark/jars has none,
and installs are not permitted), so the engine degrades to plain parquet
with the same call shape. On a cluster with
``org.apache.iceberg:iceberg-spark-runtime`` on the classpath and a catalog
configured, the same reader resolves `catalog.db.table` with full snapshot
semantics (`VERSION AS OF` / `snapshot-id`), and ``current_snapshot_id``
feeds the checkpoint manifest's lineage field.

A parquet read pins the schema it inferred, so a repeated read of files
that have not changed runs no schema-inference job (see ``read_table``).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

# per session, dropped with it: path -> (file listing, its inferred schema)
_PINNED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def read_table(
    spark: SparkSession,
    ref: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read `ref` as an Iceberg table name when the runtime is present and
    `ref` is not a path; otherwise as a parquet path (snapshot pinning is an
    Iceberg-only feature — requesting it without the runtime is an error,
    not a silent downgrade).

    A parquet read infers its schema with a Spark job. The schema inferred
    on the first read of a (session, path, file listing) is pinned and
    handed to later reads of the same listing, which then run no job. The
    listing is each file's name, size and mtime, taken on every call, so a
    rewritten file is inferred afresh, and every read still lists the files
    as they are now: the schema is pinned, never the DataFrame. A path the
    local filesystem cannot list (a glob, a remote store) reads as plain
    ``spark.read.parquet``."""
    is_path = "/" in ref or ref.endswith(".parquet")
    if not is_path and iceberg_available(spark):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(ref)
    if snapshot_id is not None:
        raise ValueError(
            "snapshot_id requires the Iceberg runtime; reading plain parquet"
        )
    listing = _listing(ref)
    if listing is None:
        return spark.read.parquet(ref)
    pinned = _PINNED.setdefault(spark, {})
    hit = pinned.get(ref)
    if hit is not None and hit[0] == listing:
        return spark.read.schema(hit[1]).parquet(ref)
    df = spark.read.parquet(ref)
    pinned[ref] = (listing, df.schema)
    return df


def _listing(path: str) -> tuple | None:
    """``(name, size, mtime_ns)`` of every file at or under a local
    ``path``, sorted; None when it cannot be listed locally."""
    if any(c in path for c in "*?[{") or not os.path.exists(path):
        return None
    if os.path.isfile(path):
        paths = [path]
    else:
        paths = [os.path.join(root, n) for root, _, names in os.walk(path) for n in names]
    files = []
    for p in sorted(paths):
        try:
            st = os.stat(p)
        except FileNotFoundError:  # removed while listing: let Spark list it
            return None
        files.append((p, st.st_size, st.st_mtime_ns))
    return tuple(files)


def current_snapshot_id(spark: SparkSession, ref: str) -> str:
    """Lineage tag for the checkpoint manifest: the Iceberg snapshot id when
    available, else the path itself (parquet has no snapshot concept)."""
    if "/" not in ref and iceberg_available(spark):
        row = spark.sql(f"SELECT snapshot_id FROM {ref}.snapshots ORDER BY committed_at DESC LIMIT 1").first()
        return str(row[0]) if row else ref
    return ref
