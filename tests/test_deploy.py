"""Deployment surfaces: Iceberg adapter probe/fallback, --py-files
packaging, and the spark-submit entry points run end-to-end locally."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_iceberg_probe_and_fallback(spark):
    from search_spark.sources.iceberg import (
        IcebergIndexCatalog,
        iceberg_available,
        pyiceberg_available,
        session_builder_conf,
    )

    # sandbox has no Iceberg jar: probe must be False, ctor must refuse
    assert iceberg_available(spark) is False
    # pure-Python fallback likewise absent here (module docstring records
    # the round-5 attempt + exact unblocking artifacts); the probe itself
    # must degrade gracefully, not raise
    assert pyiceberg_available() in (True, False)
    with pytest.raises(RuntimeError, match="IndexStore"):
        IcebergIndexCatalog(spark)
    conf = session_builder_conf("/tmp/wh")
    assert conf["spark.sql.catalog.idx.type"] == "hadoop"
    assert "spark.sql.extensions" in conf


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_ICEBERG_JAR"),
    reason="set SPARK_GRAFT_ICEBERG_JAR=/path/to/iceberg-spark-runtime.jar "
    "to exercise the real catalog write path (no jar in the sandbox)",
)
def test_iceberg_writeTo_roundtrip(tmp_path):
    """Exercises IcebergIndexCatalog's REAL write path (create →
    overwritePartitions → append → snapshots) on a local Hadoop catalog.
    Skipped in the sandbox; a cluster (or any host with the runtime jar)
    validates the adapter without code changes."""
    from pyspark.sql import SparkSession

    from search_spark.sources.iceberg import (
        CATALOG,
        IcebergIndexCatalog,
        iceberg_available,
        session_builder_conf,
    )

    b = (
        SparkSession.builder.master("local[2]")
        .appName("iceberg-writeTo")
        .config("spark.jars", os.environ["SPARK_GRAFT_ICEBERG_JAR"])
        .config("spark.ui.enabled", "false")
    )
    for k, v in session_builder_conf(str(tmp_path / "wh")).items():
        b = b.config(k, v)
    s = b.getOrCreate()
    try:
        assert iceberg_available(s)
        cat = IcebergIndexCatalog(s)
        df = s.createDataFrame(
            [(0, 0, "the", 2), (1, 1, "fast", 1)],
            "doc_id long, term_bucket int, term string, unit int",
        )
        cat.write("postings", df)                      # create, partitioned
        assert cat.read("postings").count() == 2
        cat.write("postings", df.filter("unit = 0"))   # overwritePartitions
        assert cat.read("postings").count() == 2
        cat.write("dictionary", df.select("term"), overwrite_partitions=False)
        cat.write("dictionary", df.select("term"), overwrite_partitions=False)
        assert cat.read("dictionary").count() == 4     # append path
        assert cat.snapshots("postings").count() >= 2  # real lineage
        assert s.catalog.tableExists(f"{CATALOG}.search.postings")
    finally:
        s.stop()


def test_package_pyfiles(tmp_path):
    out = tmp_path / "search_spark.zip"
    res = subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "package_pyfiles.sh"), str(out)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert res.returncode == 0, res.stderr
    names = zipfile.ZipFile(out).namelist()
    assert "search_spark/__init__.py" in names
    assert "search_spark/operators/wand.py" in names
    assert not any("__pycache__" in n for n in names)

    # every public facade name resolves from the zip alone (a name left
    # pointing at a module the zip no longer ships fails here)
    probe = subprocess.run(
        [
            sys.executable,
            "-c",
            "import search_spark as s\n"
            "assert s.__file__.startswith(%r), s.__file__\n"
            "for n in s._FACADE:\n"
            "    getattr(s, n)\n" % str(out),
        ],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(out)},
    )
    assert probe.returncode == 0, probe.stderr[-2000:]


def test_submit_build_then_query(tmp_path):
    """The actual cluster entry points, driven as subprocesses (local master):
    build from the documents-derived transcripts, then query the store."""
    store = str(tmp_path / "idx")
    env = {**os.environ, "PYTHONPATH": REPO}
    build = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "submit_build.py"),
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--derive-transcripts",
            "--store", store,
            "--units", "2",
            "--doc-bucket-size", "1024",
            "--term-buckets", "4",
            "--master", "local[4]",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert build.returncode == 0, build.stderr[-2000:]
    result = json.loads(build.stdout.strip().splitlines()[-1])
    assert result["n_postings"] > 0 and result["vocab"] > 0

    query = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "submit_query.py"),
            "--store", store,
            "--query", "the fast scan",
            "--query", "merge window customer batch",
            "-k", "5",
            "--out", str(tmp_path / "res.parquet"),
            "--master", "local[4]",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert query.returncode == 0, query.stderr[-2000:]
    import duckdb

    n = duckdb.sql(f"select count(*) from '{tmp_path}/res.parquet/*.parquet'").fetchone()[0]
    assert n == 10  # 2 queries × k=5

    # interactive REPL (example/main.go:25-54 analogue) over the same store:
    # two queries + :refresh + :quit piped through stdin
    repl = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "repl.py"),
            "--store", store,
            "-k", "3",
            "--master", "local[4]",
        ],
        input='the fast scan\n:refresh\n"fast scan"\n+merge -the window\nfas*\nmerge window\n:quit\n',
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert repl.returncode == 0, repl.stderr[-2000:]
    assert "★" in repl.stdout and "refreshed:" in repl.stdout
    assert repl.stdout.count("search>") >= 7  # incl. phrase/boolean/prefix syntax
