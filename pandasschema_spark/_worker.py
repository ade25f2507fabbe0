"""Python-worker import-cache hygiene: ``trim_worker_import_caches``
keeps what the per-task ``importlib.invalidate_caches()`` re-reads
small. A worker runs it when it imports the package (unpickling a UDF
that references it), and the stateful stream operator runs it again
after the imports its first ``GroupState.update`` makes."""

import sys
import zipfile
import zipimport


def _drop_zip_subpackage_finders() -> None:
    """Delete every ``sys.path_importer_cache`` entry whose finder is a
    ``zipimporter`` of a sub-package inside an archive (non-empty
    ``prefix``); the importers of archive roots stay.

    A Python worker calls ``importlib.invalidate_caches()`` at the start
    of every task (pyspark's ``setup_spark_files``). On CPython 3.11 and
    3.12 that re-reads the whole directory of an archive once per
    ``zipimporter`` of it in the cache, and the pyspark daemon forks each
    worker holding one per pyspark sub-package it imported from
    ``pyspark.zip`` (about 16, 1,328 entries each): 0.14-0.28 CPU-s per
    task on a 4-CPU host. The root importer's invalidation still
    refreshes the shared ``zipimport._zip_directory_cache`` once per
    archive, and a sub-package importer that ``PathFinder`` rebuilds
    later reads that fresh cache, so what imports, and from where, does
    not change."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            del sys.path_importer_cache[path]


def _holds_python(archive: str) -> bool:
    """True unless ``archive`` is a readable zip with no ``.py`` or
    ``.pyc`` entry, the only files ``zipimport`` imports. The directory
    its cached ``zipimporter`` already parsed is read when there is one
    (a jar's takes 20 ms to parse again)."""
    names = getattr(sys.path_importer_cache.get(archive), "_files", None)
    if names is None:
        try:
            with zipfile.ZipFile(archive) as z:
                names = z.namelist()
        except (OSError, zipfile.BadZipFile):
            return True
    return any(n.endswith((".py", ".pyc")) for n in names)


def _drop_jars_from_sys_path() -> None:
    """Remove the ``.jar`` archives that hold no Python from ``sys.path``,
    and their ``sys.path_importer_cache`` entries.

    Spark puts the spark-core jar on every Python worker's PYTHONPATH
    (``PythonUtils.sparkPythonPaths``). It holds no Python, but while it
    is on ``sys.path`` the per-task ``importlib.invalidate_caches()``
    re-reads its 5,359-entry directory: 24-39 ms of every task. Deleting
    only its importer does not last (the next import re-creates it);
    taking the path entry away does. A jar that ships Python modules
    (``--packages`` puts such jars on the path too) stays."""
    for path in [p for p in sys.path if isinstance(p, str) and p.endswith(".jar")]:
        if not _holds_python(path):
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)


def trim_worker_import_caches() -> None:
    """Both trims; a dict scan of ``sys.path_importer_cache`` when there
    is nothing to drop."""
    _drop_zip_subpackage_finders()
    _drop_jars_from_sys_path()
