"""SparkSession factory with scale-aware defaults.

Defaults follow the public Spark tuning guidance: AQE on (runtime
re-plan + skew-join splitting), shuffle partitions sized to cores in
local mode (would be 2-3× total cores on a real cluster), Arrow enabled
for the pandas-UDF hot path, UTC session timezone for deterministic
timestamp semantics.
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_DIR = Path(__file__).resolve().parent
_PKG_PARENT = str(_PKG_DIR.parent)


def package_zip(out: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``."""
    out = out or os.path.join("/tmp", "qcfe_spark_pkg.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(_PKG_DIR.rglob("*.py")):
            z.write(p, p.relative_to(_PKG_DIR.parent))
    return out


def get_spark(
    app: str = "qcfe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers must be able to import this package (they unpickle the
    # decode UDF). Propagate via PYTHONPATH for local mode and ship a zip
    # via addPyFile for cluster mode (spark-submit --py-files equivalent).
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + (os.pathsep + pp if pp else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(os.cpu_count() or 32) if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # DSv2-python filter pushdown (sources/snapshot_source.py): lets
        # Catalyst's pushed filters drive manifest file pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # re-adding the same zip to a reused session is a no-op, so any error
    # here is a real setup failure
    spark.sparkContext.addPyFile(package_zip())
    return spark
