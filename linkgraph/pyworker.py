"""PySpark's Python worker daemon, minus the per-task re-read of every
zip archive on the worker's path.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``), so that
files shipped with ``addPyFile`` become importable. On CPython 3.11
that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory. A reused worker holds about 16 of them: over pyspark.zip
(1.3k entries) and its package directories, the py4j zip and the Spark
core jar (5.4k entries). On a 4-vCPU VM the re-reads cost 85-147 ms
(median 96) before every UDF body, against under 1 ms for the body of
a trivial one.

Here ``zipimporter.invalidate_caches`` re-reads an archive only when
its ``(st_mtime_ns, st_size)`` differs from the one its last read saw;
an archive that changed is re-read as before, and one read is shared by
every importer over that archive. The daemon reads each archive once
before it forks, so its workers start with current stamps.

``linkgraph.session.get_spark`` names this module in
``spark.python.daemon.module``, so the daemon must find ``linkgraph``
when it starts (the working directory or ``PYTHONPATH``), as the
engine's UDFs already must. A spark-submit run that ships linkgraph
with ``--py-files`` keeps the stock daemon (``jobs/run_job.py``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path → ((st_mtime_ns, st_size), the directory read at that stamp)
_read: dict[str, tuple[tuple[int, int], dict]] = {}
# per process, inherited across the daemon's fork
rereads = 0
skips = 0


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive is unchanged since its last read. The stamp is taken before
    the read, so an archive rewritten during a read is read again next
    time."""
    global rereads, skips
    stamp = _stamp(self.archive)
    last = _read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        skips += 1
        return
    _stock_invalidate(self)
    rereads += 1
    if stamp is not None:
        _read[self.archive] = (stamp, self._files)


def main() -> None:
    import pyspark.daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # run as ``python -m``: this copy is ``__main__``; install the one
    # that tasks can import as ``linkgraph.pyworker`` (its counters)
    from linkgraph import pyworker

    pyworker.main()
