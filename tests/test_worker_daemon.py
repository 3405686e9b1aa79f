"""The worker daemon (`malstrom_spark/worker_daemon.py`).

Python workers forked by the session's daemon import pyspark from the
driver's version, hold no importer over ``pyspark.zip`` or over an
archive without Python modules, ignore the pandas "all-NA entries"
``FutureWarning`` of PySpark's pandas serializers (and no other warning),
and still import a zip shipped with ``addPyFile``. The daemon drops a
pyspark zip only when a directory install of the same version is
importable. A session built from a process whose working directory is
outside the repository, with no PYTHONPATH, still starts the daemon.
"""

import os
import pathlib
import subprocess
import sys
import zipfile

import pyspark
from pyspark.sql import functions as F

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_workers_hold_no_stale_archive_importers(spark):
    @F.pandas_udf("array<string>")
    def worker_state(s):
        import sys
        import zipimport

        import pyspark

        cache = sys.path_importer_cache.values()
        archives = {f.archive for f in cache if isinstance(f, zipimport.zipimporter)}
        return s.map(lambda _: [pyspark.__version__, *sorted(archives)])

    version, *archives = spark.range(1).select(worker_state("id")).first()[0]
    assert version == pyspark.__version__
    for a in archives:
        with zipfile.ZipFile(a) as z:
            names = z.namelist()
        assert any(n.endswith(".py") for n in names), a
        assert "pyspark/__init__.py" not in names, a


def test_workers_ignore_the_serializer_all_na_concat_warning(spark):
    msg = "The behavior of DataFrame concatenation with empty or all-NA entries is deprecated."
    raised = [
        (msg, "pyspark.sql.pandas.serializers"),
        (msg, "pyspark.sql.pandas.types"),
        ("other", "pyspark.sql.pandas.serializers"),
    ]

    @F.pandas_udf("array<string>")
    def shown(s):
        import warnings

        with warnings.catch_warnings(record=True) as seen:
            for text, module in raised:
                warnings.warn_explicit(text, FutureWarning, module, 1, module=module)
        return s.map(lambda _: [f"{w.filename}: {w.message}" for w in seen])

    got = spark.range(1).select(shown("id")).first()[0]
    assert got == [f"pyspark.sql.pandas.types: {msg}", "pyspark.sql.pandas.serializers: other"]


def test_daemon_drops_jars_and_a_pyspark_zip_of_the_installed_version(tmp_path):
    from malstrom_spark.worker_daemon import _drop_archives

    installed = pathlib.Path(pyspark.__file__).parent

    def archive(name, files):
        with zipfile.ZipFile(tmp_path / name, "w") as z:
            for n, body in files.items():
                z.writestr(n, body)
        return str(tmp_path / name)

    jar = archive("core.jar", {"org/Core.class": b""})
    same = archive("same.zip", {"pyspark/version.py": (installed / "version.py").read_bytes()})
    other = archive("other.zip", {"pyspark/version.py": "__version__ = '0.0'\n"})
    py4j = archive("py4j.zip", {"py4j/__init__.py": ""})
    assert _drop_archives([jar, same, other, py4j, str(installed.parent)]) == [jar, same]
    # without a directory install, every pyspark zip stays
    assert _drop_archives([jar, same, py4j]) == [jar]


def test_add_py_file_module_imports_in_udf(spark, tmp_path):
    shipped = tmp_path / "shipped_daemon_probe.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("daemon_probe_mod.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(shipped))

    @F.pandas_udf("long")
    def value(s):
        import daemon_probe_mod

        return s * 0 + daemon_probe_mod.VALUE

    assert spark.range(3).select(value("id")).first()[0] == 42


def test_session_starts_daemon_from_outside_the_repo(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from pyspark.sql import functions as F
from malstrom_spark.session import build_session

spark = build_session()

@F.pandas_udf("string")
def where(s):
    import pyspark
    return s.map(lambda _: pyspark.__file__)

print("WORKER", spark.range(1).select(where("id")).first()[0])
"""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    worker_pyspark = out.stdout.split("WORKER ")[-1].strip()
    assert worker_pyspark == pyspark.__file__
