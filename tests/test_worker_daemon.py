"""The engine's Python worker daemon (``worker_daemon.py``): a zip archive
is re-read by ``invalidate_caches`` only when it changed on disk, and
imports from archives added or rewritten later still resolve."""

import importlib.util
import os
import subprocess
import uuid
import zipfile
import zipimport

import pandas as pd
import pyspark

from pink_spider_spark import worker_daemon


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"alpha": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    for _ in range(3):
        worker_daemon.invalidate_caches(importer)
    # the first call reads (the importer holds no stamp yet), the rest
    # find the same (inode, size, mtime) and skip the re-read
    assert reads == [str(archive)]


def test_rewritten_archive_is_reread(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"alpha": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    worker_daemon.invalidate_caches(importer)
    assert importer.find_spec("beta") is None
    _write_zip(archive, {"alpha": "X = 1\n", "beta": "Y = 2\n"})
    worker_daemon.invalidate_caches(importer)
    spec = importer.find_spec("beta")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2


def test_workers_run_engine_invalidate_caches(spark):
    def probe(batches):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"file": [code.co_filename]})

    files = {r.file for r in
             spark.range(4).mapInPandas(probe, "file string").collect()}
    assert files and all(f.endswith("worker_daemon.py") for f in files)


def test_add_py_file_imports_on_warm_workers(spark, tmp_path):
    def identity(batches):
        yield from batches

    spark.range(8).mapInPandas(identity, "id long").count()  # warm workers
    name = f"late_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        module = importlib.import_module(name)
        for b in batches:
            yield pd.DataFrame({"v": [module.VALUE] * len(b)})

    got = {r.v for r in spark.range(8).mapInPandas(use, "v long").collect()}
    assert got == {42}


SUBMIT_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pink_spider_spark.session import get_spark

def probe(batches):
    import zipimport
    code = zipimport.zipimporter.invalidate_caches.__code__
    for _ in batches:
        yield pd.DataFrame({"file": [code.co_filename]})

spark = get_spark(app_name="submit-probe", master="local[1]")
print("FILES", sorted({r.file for r in
                       spark.range(2).mapInPandas(probe, "file string").collect()}))
spark.stop()
"""


def test_spark_submit_session_keeps_stock_daemon(tmp_path):
    """Under spark-submit the JVM is up before ``get_spark`` runs, and its
    PYTHONPATH need not hold this package: the session keeps the stock
    daemon, and its UDFs run."""
    script = tmp_path / "probe.py"
    script.write_text(SUBMIT_PROBE)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run([submit, "--master", "local[1]",
                          "--driver-memory", "512m", str(script), repo],
                         env=env, cwd=tmp_path, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "FILES ['<frozen zipimport>']" in out.stdout
