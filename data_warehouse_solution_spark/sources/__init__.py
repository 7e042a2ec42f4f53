"""Custom Spark data sources (Python Data Source API, Spark 4).

``http_csv`` is the Spark-native re-architecture of the reference's
URL ingest path (``pipeline.py:87-100`` download-with-retry +
``pipeline.py:205`` pandas CSV chunking): one InputPartition per URL,
fetched and parsed ON THE EXECUTORS with the same 3x2s retry policy —
the driver never touches the bytes, so a thousand-file feed scales
with the cluster instead of the reference's 4-thread pool.

``cow`` (batch), ``cowsink`` and ``cowcdc`` (streaming) run their
hooks in Python planner and executor workers and call the package's
own modules there (``format_rules``, ``_local_table``, ``_staging``).
``register_once`` ships the package to those workers before it
registers a source.
"""

import atexit
import os
import shutil
import tempfile
import threading
import weakref
import zipfile

_REGISTER_LOCK = threading.Lock()
_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SHIPPED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_PACKAGE_ZIP: list[str] = []  # this process's zip of the package


def ship_package(sc) -> None:
    """Make this package importable in ``sc``'s Python workers: zip it
    once per process into a fresh temp directory (never the checkout
    or the cwd) and ``addPyFile`` the zip once per SparkContext. A
    Python data source captures the context's Python includes when it
    is registered, so this must run before the registration."""
    if sc in _SHIPPED:
        return
    if not _PACKAGE_ZIP:
        pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = tempfile.mkdtemp(prefix="dws_pkg_")
        atexit.register(shutil.rmtree, out, True)
        path = os.path.join(out, f"{os.path.basename(pkg)}.zip")
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, dirs, files in os.walk(pkg):
                dirs[:] = [d for d in dirs if d != "__pycache__"]
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        zf.write(full, os.path.relpath(full, os.path.dirname(pkg)))
        _PACKAGE_ZIP.append(path)
    sc.addPyFile(_PACKAGE_ZIP[0])
    _SHIPPED[sc] = True


def register_once(spark, name: str, do) -> None:
    """Run a data-source registration exactly once per session,
    serialized. ``spark.dataSource.register`` swaps the registry entry
    non-atomically, so two threads registering the same source — e.g.
    a thread pool building independent queries that each call their
    ``register_*`` helper — can leave a window where a concurrent
    ``.format(name)`` resolution fails with dataSourceNotFoundError.
    The lock removes the window; the per-session memo keeps repeated
    registration (every query calls it defensively) free. The package
    ships to the context's workers first (``ship_package``)."""
    with _REGISTER_LOCK:
        ship_package(spark.sparkContext)
        done = _REGISTERED.get(spark)
        if done is None:
            done = set()
            _REGISTERED[spark] = done
        if name in done:
            return
        do()
        done.add(name)


from .http_csv import HttpCsvDataSource, register_http_csv  # noqa: E402

__all__ = ["HttpCsvDataSource", "register_http_csv", "register_once", "ship_package"]
