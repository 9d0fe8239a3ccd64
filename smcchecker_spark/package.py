"""Ship the engine to executors — the spark-submit --py-files story.

The north rule requires the engine to "ship as a spark-submit --py-files
package" (/root/repo/BASELINE.json:14). ``build_pyfiles_zip`` produces that
zip; ``ensure_shipped`` attaches it to a live session via
``sc.addPyFile`` so UDF closures (image decode, text ops) can import
``smcchecker_spark`` on every executor regardless of the driver's cwd —
on a real cluster this is what ``spark-submit --py-files smcchecker.zip``
does at launch.

The zip name embeds a content hash so edited code re-ships under a new
name (Spark ignores re-adds of an identical path), and each context is
sent a given zip once.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import weakref
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)

#: SparkContext -> the package zips already added to it
_SHIPPED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _content_hash() -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(_PKG_DIR)):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            # .c sources ride along: native kernels compile on demand
            # per executor node (smcchecker_spark.native)
            if f.endswith((".py", ".c")):
                p = os.path.join(root, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def build_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip the package for --py-files / addPyFile. Idempotent per content."""
    dest_dir = dest_dir or tempfile.gettempdir()
    out = os.path.join(dest_dir, f"{_PKG_NAME}-{_content_hash()}.zip")
    if os.path.exists(out):
        return out
    tmp = out + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in sorted(os.walk(_PKG_DIR)):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith((".py", ".c")):
                    p = os.path.join(root, f)
                    rel = os.path.join(
                        _PKG_NAME, os.path.relpath(p, _PKG_DIR)
                    )
                    z.write(p, rel)
    os.replace(tmp, out)
    return out


def ensure_shipped(spark) -> str:
    """Attach the package zip to the session for executor-side imports,
    once per SparkContext and zip: a context that already holds this
    content-hash zip is not asked again (Spark would only log that the
    path was added already); edited code hashes to a new zip name and
    ships."""
    path = build_pyfiles_zip()
    sc = spark.sparkContext
    shipped = _SHIPPED.setdefault(sc, set())
    if path not in shipped:
        sc.addPyFile(path)
        shipped.add(path)
    return path
