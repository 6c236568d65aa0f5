"""Spark Python daemon entry point that imports pyspark from bytecode.

Spark puts `$SPARK_HOME/python/lib/pyspark.zip` first on every Python
worker's path. The zip holds only sources, so a cold daemon compiles
pyspark on its critical path (1.0-1.3 s to import `pyspark.daemon` on
a 4-vCPU host, against 0.25 s from the installed, bytecode-cached
package), and the compiler's leftovers stay in the daemon and in every
worker it forks.

`session.get_spark` sets `spark.python.daemon.module` to this module.
Run as `__main__`, it checks that the installed pyspark has the zip's
version, drops that zip from `PYTHONPATH` and execs
`python -m pyspark.daemon <worker module>`. The exec keeps the pid
Spark's worker factory owns and kills, and the daemon and its workers
keep the command line they have without this module. On a version
mismatch, or with no installed pyspark, it writes both versions to
stderr and exits 1; stdout stays empty, because the daemon's stdout
carries its port to the JVM.
"""

from __future__ import annotations

import os
import re
import sys
import zipimport
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def _parse_version(source: str | None) -> str | None:
    m = _VERSION.search(source or "")
    return m.group(1) if m else None


def zip_version(zip_path: str) -> str | None:
    """The version in the zip's `pyspark/version.py`, or None if unreadable."""
    try:
        return _parse_version(zipimport.zipimporter(zip_path).get_data("pyspark/version.py").decode())
    except (OSError, zipimport.ZipImportError, UnicodeDecodeError):
        return None


def installed_version(path: list[str]) -> str | None:
    """The version of the pyspark that `import pyspark` finds on `path`,
    read from its `version.py` without importing it; None if none is found."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version = PathFinder.find_spec("pyspark.version", list(spec.submodule_search_locations))
    if version is None or version.loader is None:
        return None
    try:
        return _parse_version(version.loader.get_data(version.origin).decode())
    except (OSError, UnicodeDecodeError):
        return None


def version_error(zip_path: str, installed: str | None) -> str | None:
    """Why the daemon must not run without `zip_path`, or None when the
    installed pyspark's version equals the zip's."""
    shipped = zip_version(zip_path)
    if installed is not None and installed == shipped:
        return None
    return (
        f"basicocr_spark.worker_daemon: Spark's {zip_path} holds pyspark "
        f"{shipped or '(unreadable)'}, but the installed pyspark is "
        f"{installed or '(not installed)'}; install Spark's version for "
        f"{sys.executable}, or set spark.python.daemon.module=pyspark.daemon\n"
    )


def main() -> None:
    entries = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    zips = [e for e in entries if os.path.basename(e) == "pyspark.zip"]
    if zips:
        shipped = os.path.abspath(zips[0])
        rest = [p for p in sys.path if os.path.abspath(p) != shipped]
        err = version_error(zips[0], installed_version(rest))
        if err is not None:
            sys.stderr.write(err)
            sys.exit(1)
        entries.remove(zips[0])
        os.environ["PYTHONPATH"] = os.pathsep.join(entries)
    os.execv(sys.executable, [sys.executable, "-m", "pyspark.daemon", *sys.argv[1:]])


if __name__ == "__main__":
    main()
