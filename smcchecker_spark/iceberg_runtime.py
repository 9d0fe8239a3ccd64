"""Iceberg runtime discovery + session wiring for the ``IcebergTable`` seam.

The north rule's production format is Iceberg (``tables.py:64`` carries the
call shapes). This module is the piece that turns the seam into an
EXECUTABLE path wherever a ``iceberg-spark-runtime`` jar exists:

- ``find_iceberg_jar()``  — locate a runtime jar (env var, repo ``jars/``,
  pyspark's own jar dir, ivy/maven caches). Returns ``None`` when the
  sandbox has none — this box verifiably cannot fetch one (no DNS; see
  TESTDATA.md "Iceberg runtime availability"), so callers gate on it.
- ``iceberg_session_confs()`` — the exact SparkSession confs a
  HadoopCatalog-backed local warehouse needs. The same dict, pointed at a
  metastore/REST catalog instead of a local path, is the production
  deployment: no engine code changes, exactly as ``tables.py`` promises.

``tools/iceberg_roundtrip.py`` consumes both to run the real
append → snapshot-read → partition-pruned-resume round trip, and
``tests/test_iceberg_runtime.py`` executes it whenever a jar is present
(skipping, with the documented reason, when it is not).
"""

from __future__ import annotations

import glob
import os
import re

# Spark 4.x needs iceberg-spark-runtime-4.0/4.1; older 3.x jars would fail
# at class-load. We accept any spark-runtime jar and let the subprocess
# probe surface a mismatch as a real error rather than pre-filtering —
# a wrong-version jar present on the box is worth a loud message, not a
# silent skip.
_JAR_GLOBS = (
    "iceberg-spark-runtime-*.jar",
    "iceberg-spark-runtime*.jar",
)


def _candidate_dirs() -> list[str]:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [
        os.path.join(here, "jars"),
        os.path.expanduser("~/.ivy2/jars"),
        os.path.expanduser("~/.ivy2/cache"),
        os.path.expanduser("~/.m2/repository/org/apache/iceberg"),
        "/opt/spark/jars",
        "/opt/jars",
    ]
    try:
        import pyspark

        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover - pyspark is a hard dep
        pass
    return dirs


def find_iceberg_jar() -> str | None:
    """Locate an iceberg-spark-runtime jar, or ``None`` if absent.

    Order: explicit ``ICEBERG_SPARK_RUNTIME_JAR`` env var (must exist —
    a dangling value is a config error worth raising, not ignoring),
    then well-known jar directories, recursively for the maven cache.
    """
    env = os.environ.get("ICEBERG_SPARK_RUNTIME_JAR")
    if env:
        if not os.path.isfile(env):
            raise FileNotFoundError(
                f"ICEBERG_SPARK_RUNTIME_JAR={env!r} does not exist"
            )
        return env
    for d in _candidate_dirs():
        if not os.path.isdir(d):
            continue
        for pat in _JAR_GLOBS:
            hits = glob.glob(os.path.join(d, pat)) or glob.glob(
                os.path.join(d, "**", pat), recursive=True
            )
            if hits:
                return max(hits, key=_jar_version)
    return None


def _jar_version(path: str) -> tuple:
    """Sort key for a runtime jar: its Iceberg version as integers, so
    ``...-1.10.0.jar`` outranks ``...-1.9.1.jar`` (a string sort ranks
    them the other way round); the path breaks ties."""
    m = re.search(r"-(\d+(?:\.\d+)*)\.jar$", os.path.basename(path))
    return (tuple(int(p) for p in m.group(1).split(".")) if m else (), path)


def iceberg_session_confs(
    jar: str, warehouse: str, catalog: str = "local"
) -> dict[str, str]:
    """SparkSession confs for a HadoopCatalog Iceberg warehouse.

    ``warehouse`` is a local path in the sandbox; on a cluster it is an
    object-store URI and ``type`` flips to ``rest``/``hive`` — the only
    deployment delta. The extensions conf enables MERGE INTO / CALL
    procedures (compaction's ``rewrite_data_files``).
    """
    return {
        "spark.jars": jar,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions."
            "IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
