"""The Python worker entry (``br_archive_spark._daemon``): which
SPARK_HOME archives it strips from a worker's ``sys.path``, where
``get_spark`` selects it, what a live worker imports, and that a
reused worker freezes its heap once."""

import gc
import os
import types
import zipfile
from pathlib import Path

import pytest

import br_archive_spark
from br_archive_spark._daemon import (freeze_after_first, spark_archives,
                                      strip_spark_archives)
from br_archive_spark.plans import session

VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path, files):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _pkg(root, name, files):
    d = root / name
    d.mkdir(parents=True, exist_ok=True)
    for fname, data in files.items():
        (d / fname).write_bytes(data)


@pytest.fixture
def layout(tmp_path):
    """A fake SPARK_HOME reached through a symlink (its archives are on
    the path by their real location, as Spark puts the jar), a user
    zip outside it, and a site dir with pyspark and py4j installed."""
    real = tmp_path / "spark-4.1.2"
    home = tmp_path / "spark"
    lib = real / "python" / "lib"
    pyzip = _zip(lib / "pyspark.zip", {"pyspark/__init__.py": b"",
                                       "pyspark/version.py": VERSION})
    py4j = _zip(lib / "py4j-src.zip", {"py4j/__init__.py": b""})
    jar = _zip(real / "jars" / "spark-core.jar", {"org/A.class": b""})
    home.symlink_to(real)
    user = _zip(tmp_path / "deps" / "user.zip", {"dep/__init__.py": b""})
    site = tmp_path / "site"
    _pkg(site, "pyspark", {"__init__.py": b"", "version.py": VERSION})
    _pkg(site, "py4j", {"__init__.py": b""})
    path = [str(lib / "pyspark.zip").replace(str(real), str(home)),
            py4j.replace(str(real), str(home)), jar, user, str(site)]
    return types.SimpleNamespace(home=str(home), path=path, site=site,
                                 archives=path[:3], user=user,
                                 pyzip=pyzip)


def _cache(path):
    cache = {p: object() for p in path}
    cache[path[0] + os.sep + "pyspark"] = object()
    cache[path[0] + os.sep + os.path.join("pyspark", "sql")] = object()
    cache[path[2] + os.sep + "org"] = object()
    return cache


def test_strip_drops_spark_home_archives_only(layout):
    path, cache = list(layout.path), _cache(layout.path)
    removed = strip_spark_archives(path, cache, layout.home)
    assert removed == layout.archives
    assert path == [layout.user, str(layout.site)]
    assert sorted(cache) == sorted(path)


@pytest.mark.parametrize("case", ["no spark home", "pyspark only zipped",
                                  "py4j only zipped", "version differs",
                                  "no installed version.py"])
def test_strip_is_a_no_op_unless_installed_pyspark_matches(layout, case):
    home = layout.home
    if case == "no spark home":
        home = None
    elif case == "pyspark only zipped":
        (layout.site / "pyspark" / "__init__.py").unlink()
    elif case == "py4j only zipped":
        (layout.site / "py4j" / "__init__.py").unlink()
    elif case == "version differs":
        (layout.site / "pyspark" / "version.py").write_bytes(
            VERSION.replace(b"4.1.2", b"4.1.1"))
    else:
        (layout.site / "pyspark" / "version.py").unlink()
    path, cache = list(layout.path), _cache(layout.path)
    before = dict(cache)
    assert spark_archives(path, home) == []
    assert strip_spark_archives(path, cache, home) == []
    assert path == layout.path and cache == before
    assert layout.user in path


def test_strip_compares_version_with_the_pyspark_archive(layout):
    """The reference version.py comes from whichever archive holds
    it; with no archive holding one, nothing is stripped."""
    _zip(Path(layout.pyzip), {"pyspark/__init__.py": b""})
    assert spark_archives(layout.path, layout.home) == []


PACKAGE_PARENT = os.path.dirname(os.path.dirname(
    os.path.abspath(br_archive_spark.__file__)))
DAEMON = {"spark.python.daemon.module": "br_archive_spark._daemon"}


@pytest.fixture
def no_jvm(monkeypatch):
    """No JVM yet: the next session's starts from the driver's cwd and
    environment."""
    monkeypatch.setattr(session.SparkContext, "_jvm", None)


@pytest.fixture
def nowhere(tmp_path, monkeypatch, no_jvm):
    """A cwd, PYTHONPATH and site-packages none of which hold the
    package."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    return tmp_path


@pytest.mark.parametrize("where", ["cwd", "PYTHONPATH", "site-packages"])
def test_daemon_conf_where_the_daemon_can_import_it(nowhere, monkeypatch,
                                                     where):
    if where == "cwd":
        monkeypatch.chdir(PACKAGE_PARENT)
    elif where == "PYTHONPATH":
        monkeypatch.setenv("PYTHONPATH", os.pathsep.join(
            [str(nowhere / "other"), PACKAGE_PARENT]))
    else:
        monkeypatch.setattr(session.site, "getsitepackages",
                            lambda: [PACKAGE_PARENT])
    for master in ("local", "local[4]", "local[*]", "local[2,3]"):
        assert session._daemon_conf(master) == DAEMON, master


@pytest.mark.parametrize("master", [None, "yarn", "spark://h:7077",
                                    "local-cluster[2,1,1024]",
                                    "k8s://https://h:443"])
def test_daemon_conf_unset_off_local_masters(monkeypatch, master):
    monkeypatch.chdir(PACKAGE_PARENT)
    assert session._daemon_conf(master) == {}


def test_daemon_conf_unset_where_the_package_is_not_importable(nowhere):
    assert session._daemon_conf("local[4]") == {}


@pytest.mark.parametrize("jvm_cwd", ["nowhere", "package parent"])
def test_daemon_conf_asks_a_running_jvm(nowhere, monkeypatch, jvm_cwd):
    """A JVM kept from a stopped session launches the daemon from the
    cwd and PYTHONPATH it started with, not the driver's current
    ones."""
    user_dir = str(nowhere) if jvm_cwd == "nowhere" else PACKAGE_PARENT
    system = types.SimpleNamespace(
        getProperty={"user.dir": user_dir}.get,
        getenv={"PYTHONPATH": None}.get)
    monkeypatch.setattr(session.SparkContext, "_jvm",
                        types.SimpleNamespace(**{"java.lang.System": system}))
    monkeypatch.chdir(PACKAGE_PARENT if jvm_cwd == "nowhere" else nowhere)
    assert session._daemon_conf("local[4]") == (
        {} if jvm_cwd == "nowhere" else DAEMON)


def test_daemon_conf_unset_where_another_copy_shadows_it(nowhere,
                                                         monkeypatch):
    _pkg(nowhere, "br_archive_spark", {"__init__.py": b""})
    monkeypatch.setenv("PYTHONPATH", PACKAGE_PARENT)
    assert session._daemon_conf("local[4]") == {}


class _Builder:
    def __init__(self):
        self.conf = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self


@pytest.mark.parametrize("master,extra,want", [
    ("local[4]", None, "br_archive_spark._daemon"),
    ("local[4]", {"spark.python.daemon.module": "pyspark.daemon"},
     "pyspark.daemon"),
    ("spark://h:7077", None, None),
    (None, None, None),
])
def test_get_spark_sets_the_daemon_module(monkeypatch, no_jvm, master, extra,
                                         want):
    monkeypatch.chdir(PACKAGE_PARENT)
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=builder))
    session.get_spark(master, shuffle_partitions=1, extra_conf=extra)
    assert builder.conf.get("spark.python.daemon.module") == want


def test_get_spark_leaves_stock_daemon_where_not_importable(nowhere,
                                                            monkeypatch):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=builder))
    session.get_spark("local[4]", shuffle_partitions=1)
    assert "spark.python.daemon.module" not in builder.conf


def test_workers_import_the_installed_pyspark(spark):
    """A live worker imported pyspark from a directory and holds no
    zipimporter for an archive under SPARK_HOME."""
    import pyspark

    home = os.environ.get("SPARK_HOME")
    pyzip = os.path.join(home or "", "python", "lib", "pyspark.zip")
    if not os.path.isfile(pyzip):
        pytest.skip("no SPARK_HOME pyspark.zip to strip")
    with zipfile.ZipFile(pyzip) as z, open(os.path.join(
            os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        if z.read("pyspark/version.py") != f.read():
            pytest.skip("installed pyspark differs from SPARK_HOME's")
    want = session._daemon_conf("local[4]")
    if not want:
        pytest.skip("the package is not importable at daemon launch")
    assert spark.conf.get("spark.python.daemon.module") == \
        want["spark.python.daemon.module"]

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "file": [pyspark.__file__] * b.num_rows,
                "zips": [zips] * b.num_rows})

    rows = (spark.range(0, 4, 1, 4)
            .mapInArrow(probe, "file string, zips array<string>")
            .collect())
    root = os.path.realpath(home) + os.sep
    assert len(rows) == 4
    for r in rows:
        assert os.path.isdir(os.path.dirname(r["file"])), r["file"]
        assert not any(os.path.realpath(z).startswith(root)
                       for z in r["zips"]), r["zips"]


@pytest.fixture
def unfrozen():
    gc.unfreeze()
    yield
    gc.unfreeze()


def test_freeze_after_first_freezes_once_at_the_second_call(unfrozen):
    calls = []

    def main(infile, outfile):
        calls.append((infile, outfile, gc.get_freeze_count()))
        return len(calls)

    wrapped = freeze_after_first(main)
    assert wrapped("in", "out") == 1
    assert gc.get_freeze_count() == 0
    assert wrapped("in", outfile="out") == 2
    assert gc.get_freeze_count() > 0
    # the freeze happens BEFORE the second task runs
    assert calls[0][2] == 0 and calls[1][2] > 0
    gc.unfreeze()
    assert wrapped("in", "out") == 3
    assert gc.get_freeze_count() == 0
    assert calls[-1][:2] == ("in", "out")


def test_reused_workers_freeze_their_heap(spark):
    """A worker that runs a second task has frozen the heap its first
    task left, so pyspark's per-task ``gc.collect()`` skips it."""
    if spark.conf.get("spark.python.daemon.module", None) != \
            "br_archive_spark._daemon":
        pytest.skip("the package is not importable at daemon launch")

    def probe(batches):
        import gc

        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"frozen": [gc.get_freeze_count()] * b.num_rows})

    def run():
        return [r["frozen"] for r in spark.range(0, 4, 1, 4)
                .mapInArrow(probe, "frozen long").collect()]

    run()
    assert max(run()) > 0
