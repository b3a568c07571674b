"""Python worker daemon for the test session (``spark.python.daemon.module``).

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar at the head of every Python worker's ``sys.path``, and
pyspark calls ``importlib.invalidate_caches()`` before every task. For a
zip entry that re-reads the archive's whole directory, once for each
package imported from it: about 0.13 CPU-s per task on a 4-core x86 host
with Spark 4.1.2 and Python 3.11, more than most test tasks spend on
their data. This daemon drops the zip and jar entries before pyspark is
imported, so the forked workers load the installed pyspark package from
a plain directory, whose cache invalidation is a no-op.

It does so only when the installed pyspark has the same version as the
zipped one the JVM ships and py4j imports without its zip; otherwise the
path is left as it is and the workers run exactly as without this module.

Run by Spark as ``python -m s3conn_worker_daemon <worker module>``; the
arguments go through to ``pyspark.daemon`` unchanged.
"""

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_ZIPPED = (".zip", ".jar")
_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _version(source: str):
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _plain_path():
    """``sys.path`` without its zip/jar entries when the installed pyspark
    matches the zipped one and py4j is installed too, else None."""
    zips = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
    plain = [p for p in sys.path if not p.endswith(_ZIPPED)]
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


_plain = _plain_path()
if _plain is not None:
    sys.path[:] = _plain
    for _entry in [k for k in sys.path_importer_cache if k.endswith(_ZIPPED)]:
        del sys.path_importer_cache[_entry]

from pyspark import daemon  # noqa: E402  (must follow the path change)

if __name__ == "__main__":
    daemon.manager()
