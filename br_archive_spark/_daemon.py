"""Python worker daemon: pyspark's own, started on the installed pyspark.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar first on every Python worker's ``sys.path``.
At the start of each task pyspark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 every
zipimporter then re-reads its archive's directory: 150–250 ms of CPU
per task, on top of compiling every module from the zip's ``.py``
sources. When the interpreter has its own pyspark and py4j installed
as directories, and that pyspark's ``version.py`` is byte-equal to
the archive's, this entry drops the archives under ``SPARK_HOME``
from ``sys.path`` (and their ``sys.path_importer_cache`` entries)
before it runs ``pyspark.daemon``; otherwise it runs the stock
daemon on an untouched path. Archives outside ``SPARK_HOME`` stay.

It also freezes each reused worker's heap once. Pyspark's daemon runs
a full ``gc.collect()`` after every task a reused worker finishes
(``pyspark/daemon.py:244``). That collection walks every object
pyspark, pyarrow, pandas and this package leave in the worker — 40–75 k
of them, ~17 ms of CPU per task on a 4-core Intel Xeon VM. The entry
wraps the worker module's ``main`` so that a worker calls
``gc.freeze()`` at the start of its second task: the collection after
the first task has already run, so the permanent generation receives
the imported modules and nothing of the first task's garbage, and every
later collection walks only the task's own objects. It freezes once,
so no later task's leftovers are pinned.

It sits directly under the package, whose ``__init__`` imports
nothing, so no pyspark module is loaded before the strip.
``plans.session.get_spark`` selects it through
``spark.python.daemon.module``.
"""

import gc
import importlib
import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder


def spark_archives(path: list, spark_home: str | None) -> list:
    """The file entries of ``path`` under ``spark_home`` that the
    installed pyspark and py4j can replace; [] if they cannot."""
    if not spark_home:
        return []
    root = os.path.realpath(spark_home) + os.sep
    archives = [p for p in path if os.path.isfile(p)
                and os.path.realpath(p).startswith(root)]
    if not archives:
        return []
    rest = [p for p in path if p not in archives]
    origins = [getattr(PathFinder.find_spec(name, rest), "origin", None)
               for name in ("pyspark", "py4j")]
    if not all(o and os.path.isdir(os.path.dirname(o)) for o in origins):
        return []
    try:
        with open(os.path.join(os.path.dirname(origins[0]), "version.py"),
                  "rb") as f:
            installed = f.read()
    except OSError:
        return []
    for a in archives:
        try:
            with zipfile.ZipFile(a) as z:
                if z.read("pyspark/version.py") == installed:
                    return archives
        except (KeyError, OSError, zipfile.BadZipFile):
            pass
    return []


def strip_spark_archives(path: list, cache: dict,
                         spark_home: str | None) -> list:
    """Remove :func:`spark_archives` from ``path`` and every ``cache``
    entry at or below them; return what was removed."""
    archives = spark_archives(path, spark_home)
    prefixes = tuple(a + os.sep for a in archives)
    for a in archives:
        path.remove(a)
    for key in [k for k in cache
                if k in archives or k.startswith(prefixes)]:
        del cache[key]
    return archives


def freeze_after_first(main):
    """``main`` wrapped to call ``gc.freeze()`` once, before its second
    call — a reused worker's second task. Forked workers each start
    from the daemon's count of zero."""
    calls = 0

    def wrapped(*args, **kwargs):
        nonlocal calls
        calls += 1
        if calls == 2:
            gc.freeze()
        return main(*args, **kwargs)

    return wrapped


if __name__ == "__main__":
    strip_spark_archives(sys.path, sys.path_importer_cache,
                         os.environ.get("SPARK_HOME"))
    # the worker module pyspark.daemon binds ``main`` from at import
    worker = importlib.import_module(
        sys.argv[1] if len(sys.argv) > 1
        and sys.argv[1].startswith("pyspark") else "pyspark.worker")
    worker.main = freeze_after_first(worker.main)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
