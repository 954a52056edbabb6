

def test_mem_bytes_explicit_byte_suffix_stays_bytes():
    from engine.session import _mem_bytes

    assert _mem_bytes("4294967296b") == 4294967296  # bytes, not MiB*bytes
    assert _mem_bytes("512") == 512 * (1 << 20)  # unitless -> MiB
    assert _mem_bytes("4g") == 4 * (1 << 30)
    assert _mem_bytes("1gb") == 1 << 30


def test_python_worker_keeps_spark_archive_listings(spark, tmp_path):
    """A task's ``importlib.invalidate_caches()`` (pyspark runs one in every
    task's set-up) must not re-read the archives Spark's launcher put on
    the worker path, but must still re-read a zip that appeared later."""
    import json

    late_dir = str(tmp_path)

    def probe(batches):
        import importlib
        import os
        import sys
        import zipfile
        import zipimport

        import pandas as pd

        import engine  # noqa: F401  (the package a task's code imports)

        launcher = [
            p for p in os.environ["PYTHONPATH"].split(os.pathsep)
            if os.path.isfile(p)
        ]
        held = sorted({
            imp.archive for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive in launcher
        })
        path = os.path.join(late_dir, f"late_{os.getpid()}.zip")

        def write(v):
            with zipfile.ZipFile(path, "w") as z:
                z.writestr("late_probe_mod.py", f"V = {v}\n")

        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        write(1)
        sys.path.insert(0, path)
        try:
            import late_probe_mod

            first = late_probe_mod.V
            write(2)
            del sys.modules["late_probe_mod"]
            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
            import late_probe_mod

            second = late_probe_mod.V
        finally:
            sys.path.remove(path)
            sys.modules.pop("late_probe_mod", None)
        out = dict(held=held, reads=reads, late=path, values=[first, second])
        for _ in batches:
            yield pd.DataFrame({"r": [json.dumps(out)]})

    r = json.loads(
        spark.range(1, numPartitions=1).mapInPandas(probe, "r string").first()["r"]
    )
    assert any(a.endswith("pyspark.zip") for a in r["held"]), r["held"]
    assert not set(r["reads"]) & set(r["held"]), r["reads"]
    assert r["late"] in r["reads"]
    assert r["values"] == [1, 2]


def test_importing_engine_in_the_driver_leaves_zipimport_unchanged():
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "from pyspark.sql import SparkSession\n"
        "import engine, engine.session\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=repo, check=True)
