"""Python worker daemon: `pyspark.daemon` minus a per-task re-read of
pyspark.zip on CPython < 3.12.

Every Python task starts in `pyspark.worker_util.setup_spark_files`,
which calls `importlib.invalidate_caches()`. Before CPython 3.12
(fixed by gh-103200) a `zipimporter` answers that by re-reading its
whole archive directory. A worker holds one importer per package
directory it imported from pyspark.zip (~16 over 1,328 entries, ~13 ms
each), so each task paid ~200-350 ms before running a single row:
the `init=` field of PythonRunner's `Times:` log line.

Here an importer re-reads its archive only when the archive's
(st_mtime_ns, st_size, st_ino) differs from what it saw at its last
re-read, so a rewritten archive is still picked up. The daemon stamps
the importers it already holds before it forks, so every worker starts
warm. `session.get_spark` selects this module through
`spark.python.daemon.module`; on 3.12+ it only runs `pyspark.daemon`.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def stamped(invalidate):
    """Wrap zipimporter.invalidate_caches so it re-reads the archive
    only when the archive file changed since this importer's last
    re-read. The stamp lives on the importer instance."""

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        # stat before the read: a write racing the read leaves an old
        # stamp behind, so the next call reads again
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            invalidate(self)
            self._archive_stamp = stamp

    return invalidate_caches


def main() -> None:
    from pyspark import daemon

    if sys.version_info < (3, 12):
        cls = zipimport.zipimporter
        cls.invalidate_caches = stamped(cls.invalidate_caches)
        # stamp the importers the daemon holds; forked workers inherit
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
