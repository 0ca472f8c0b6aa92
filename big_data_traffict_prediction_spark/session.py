"""SparkSession factory.

One place owns the session config so every test / bench / driver run
sees the same semantics:

- ``spark.sql.session.timeZone = UTC``: the reference does every
  calendar op through SQLite's ``'localtime'`` (reference
  ``app/database.py:123-128``); we pin a single zone so day/hour
  grouping is deterministic and matches the DuckDB oracle (which is
  UTC-naive).
- AQE on: runtime shuffle-partition coalescing and skew-join splitting.
  Hot cameras are a real skew source in the reference's data model
  (SURVEY.md §7 watch-list 7).
- shuffle partitions equal the local core count, not the 200
  default — on a real cluster this is set per-job from the input size.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import zipfile
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "big-data-traffict-prediction-spark",
    cpus: int | str | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the canonical local session.

    ``SPARK_GRAFT_CPUS`` mirrors the driver harness's knob.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "32")
    mem = driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_PKG_ZIP: str | None = None
_SHIPPED_APPS: set[str] = set()


def _package_zip() -> str:
    """Zip this package once per process (sources only, no pycache) into
    a temp dir removed at interpreter exit."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        tmp = tempfile.mkdtemp(prefix="spark_pkg_")
        atexit.register(shutil.rmtree, tmp, True)
        path = os.path.join(tmp, f"{pkg_name}.zip")
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        _PKG_ZIP = path
    return _PKG_ZIP


def ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python workers.

    Cloudpickle serializes module-level functions (our Pandas-UDF /
    ``applyInPandasWithState`` kernels) BY REFERENCE, so the worker
    re-imports this package at deserialize time. When the driving
    process was launched from a different cwd (the external harness
    does exactly that), the bare import fails with
    ``ModuleNotFoundError``. ``addPyFile`` ships a zip of the package
    and prepends it to every worker's ``sys.path`` — the standard way
    to distribute job code to a real cluster, and a no-op burden
    locally (~40 kB once per app).
    """
    app = spark.sparkContext.applicationId
    if app in _SHIPPED_APPS:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED_APPS.add(app)


# Serializes the capped sections: each one saves, lowers and restores
# the session-global conf, so two that overlapped would restore out of
# order and leave the lower value behind for good. Reentrant so a
# capped section may nest inside another on the same thread.
_SHUFFLE_CAP_LOCK = threading.RLock()


@contextmanager
def shuffle_partitions_at_most(spark: SparkSession, target: int):
    """Run the body with ``spark.sql.shuffle.partitions`` lowered to
    ``target`` (never raised above the session value, never below 1),
    restoring the session value after.

    Capped sections run one at a time (``_SHUFFLE_CAP_LOCK``), so
    keep the body short. The conf is still session-global: a query
    planned concurrently on the same session, outside any capped
    section, sees the lowered count for the body's duration."""
    with _SHUFFLE_CAP_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(max(1, min(int(old), target)))
        )
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


_PINNED_SESSIONS: set[str] = set()


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable invariants to a session we did not
    create (a caller of ``__spark_entry__`` passes its own), once per
    JVM session: the UTC time zone, ``nanosAsLong`` for the testdata's
    TIMESTAMP(NANOS) parquet (see ``tables.load_table``) and the
    shipped package. Keyed on the JVM session's UUID, so a
    ``spark.newSession()`` child, whose SQL conf starts from the
    defaults, is pinned on its first use."""
    key = spark._jsparkSession.sessionUUID()
    if key not in _PINNED_SESSIONS:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ship_package(spark)
        _PINNED_SESSIONS.add(key)
    return spark
