"""Python daemon for local Spark applications (``spark.python.daemon.module``).

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``
first on ``PYTHONPATH``. That zip ships sources only, and zipimport
cannot cache bytecode, so every application's daemon, and every worker
it forks, compiles pyspark again: ``import pyspark.worker`` takes about
1.4 s from the zip against 0.2 s from an installed copy. This module
moves the zip behind the interpreter's installed pyspark when both are
the same release, then runs pyspark's own daemon. Forked workers inherit
the reordered ``sys.path``. In every other case the path is left alone,
which is Spark's default behaviour.

It must import no pyspark before the path is reordered, which is why
the package ``__init__`` imports its session factory lazily.
"""

from __future__ import annotations

import os
import sys
import zipfile

_VERSION_FILE = "pyspark/version.py"


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:  # missing file, or a path entry that is not a directory
        return None


def prefer_installed_pyspark(path: list[str]) -> list[str]:
    """``path`` with its first ``pyspark*.zip`` entry moved just behind
    the first installed pyspark on the rest of ``path``, if that copy's
    ``pyspark/version.py`` is byte-equal to the zip's. Otherwise
    ``path`` itself, unchanged."""
    i = next(
        (
            k
            for k, p in enumerate(path)
            if os.path.basename(p).startswith("pyspark") and p.endswith(".zip")
        ),
        None,
    )
    if i is None:
        return path
    try:
        with zipfile.ZipFile(path[i]) as zf:
            zipped = zf.read(_VERSION_FILE)
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    rest = path[:i] + path[i + 1 :]
    for k, entry in enumerate(rest):
        installed = _read(os.path.join(entry or os.curdir, _VERSION_FILE))
        if installed is not None:
            if installed != zipped:
                return path
            return rest[: k + 1] + [path[i]] + rest[k + 1 :]
    return path


if __name__ == "__main__":
    sys.path[:] = prefer_installed_pyspark(sys.path)
    from pyspark import daemon

    daemon.manager()
