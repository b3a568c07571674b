"""Python worker daemon that imports pyspark from the installed package,
not from ``pyspark.zip`` (Spark's ``spark.python.daemon.module``).

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar at the head of every Python worker's
``sys.path``, and pyspark calls ``importlib.invalidate_caches()`` before
every task. For a zip entry that re-reads the archive's whole directory,
once for each package imported from it: about 0.13 CPU-s per task on a
4-core x86 host with Spark 4.1.2 and Python 3.11, more than a
small-file read task spends on its data. This daemon drops those three
entries before pyspark is imported, so the forked workers load the
installed pyspark from a plain directory, whose cache invalidation is a
no-op. Every other entry stays, so a ``--py-files`` archive that
YARN or Kubernetes puts on the worker ``PYTHONPATH`` still imports.

It does so only when the installed pyspark has the same version as the
zipped one the JVM ships and py4j imports without its zip; otherwise the
path is left as it is and the workers run exactly as with Spark's own
daemon.

:func:`spark_streaming_sql_s3_connector_spark.session.apply_engine_defaults`
installs it in local mode, after getOrCreate: Spark reads the conf from
``SparkEnv`` each time it builds a Python runner, and in local mode that
is the driver's live conf. It does so only when the worker interpreter
can import this module as Spark starts it; a package shipped with
``addPyFile`` reaches ``sys.path`` only inside each task, after the
daemon has started. Executors on a cluster read the conf when they
launch, so a deployment passes it at submit (README, "Scale design").
Spark runs it as ``python -m <this module> <worker module>``
and the arguments go through to ``pyspark.daemon`` unchanged. The
package ``__init__`` runs first and must not import pyspark.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from fnmatch import fnmatchcase
from importlib.machinery import PathFinder

# the entries Spark's PythonUtils.sparkPythonPath puts on a worker's path
_SPARK_ENTRIES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _version(source: str):
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _is_spark_entry(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatchcase(name, pattern) for pattern in _SPARK_ENTRIES)


def _plain_path(path: list[str]) -> list[str] | None:
    """``path`` without Spark's zip and jar entries when the installed
    pyspark matches the zipped one and py4j is installed too, else None."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    plain = [p for p in path if not _is_spark_entry(p)]
    spec = PathFinder.find_spec("pyspark", plain)
    if not zips or spec is None or spec.origin is None:
        return None
    if PathFinder.find_spec("py4j", plain) is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            installed = _version(f.read())
        zipped = set()
        for z in zips:
            with zipfile.ZipFile(z) as archive:
                zipped.add(_version(archive.read("pyspark/version.py").decode()))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return plain if installed is not None and zipped == {installed} else None


def _use_plain_path() -> None:
    plain = _plain_path(sys.path)
    if plain is None:
        return
    dropped = set(sys.path).difference(plain)
    sys.path[:] = plain
    for entry in dropped:
        sys.path_importer_cache.pop(entry, None)


if __name__ == "__main__":
    _use_plain_path()
    from pyspark import daemon  # must follow the path change

    daemon.manager()
