"""``importlib.invalidate_caches()`` keeps the directory of an unchanged
zip archive (``search_spark._stamp_zip_invalidation``, CPython < 3.13).

Every Spark Python task calls it once (``setup_spark_files``); before the
replacement, each zipimporter re-parsed its archive's whole central
directory, about 16 times over pyspark.zip per task."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 zipimport invalidates lazily; nothing is replaced"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_UNIT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    work = sys.argv[1]
    archive = os.path.join(work, "mods.zip")

    def write(path, names):
        with zipfile.ZipFile(path, "w") as z:
            for name in names:
                z.writestr(name, "VALUE = %r\\n" % name)

    write(archive, ["mod_a.py", "pkg/__init__.py", "pkg/sub.py"])
    sys.path.insert(0, archive)
    import search_spark  # installs the replacement
    import search_spark as again  # a second import installs nothing more
    replacement = zipimport.zipimporter.invalidate_caches
    importlib.reload(search_spark)
    assert zipimport.zipimporter.invalidate_caches is replacement
    import mod_a, pkg.sub  # two importers over one archive
    importers = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    assert len(importers) == 2, importers

    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or real(path)

    importlib.invalidate_caches()  # records the stamp: one read per archive
    assert reads.count(archive) == 1, reads
    del reads[:]
    for _ in range(20):
        importlib.invalidate_caches()
    assert reads == [], reads

    # replaced by write + rename: a new inode
    write(archive + ".tmp", ["mod_a.py", "mod_b.py"])
    os.replace(archive + ".tmp", archive)
    importlib.invalidate_caches()
    assert archive in reads
    import mod_b

    # rewritten in place: same inode, new size
    ino = os.stat(archive).st_ino
    write(archive, ["mod_a.py", "mod_b.py", "mod_c_with_a_longer_name.py"])
    assert os.stat(archive).st_ino == ino
    del reads[:]
    importlib.invalidate_caches()
    assert archive in reads
    import mod_c_with_a_longer_name

    # settled again: no read
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [], reads

    # a vanished archive falls through to the eager path
    os.remove(archive)
    importlib.invalidate_caches()
    assert all(imp._files == {} for imp in importers)
    print("ok")
    """
)


def test_unchanged_archive_is_not_reread(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, "-c", _UNIT, str(tmp_path)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 0 and p.stdout.strip() == "ok", p.stderr[-3000:]


def test_spark_task_rereads_no_archive(spark, tmp_path):
    """After an engine UDF has run, a Python task's own
    ``importlib.invalidate_caches()`` parses no zip directory, and the
    pyspark.zip importers stay in ``sys.path_importer_cache``."""
    from search_spark import corpus
    from search_spark.operators.indexer import build_index
    from search_spark.operators.wand import IndexReader
    from search_spark.sources.index_store import IndexStore

    store = IndexStore(str(tmp_path / "idx"), doc_bucket_size=64, term_buckets=2)
    build_index(spark, corpus.generate_spark(spark, 20, partitions=4), store)
    assert IndexReader(spark, store).search("the needle0", 3).count() > 0

    def probe(table: pa.Table) -> pa.Table:
        import importlib
        import zipimport

        import search_spark  # noqa: F401  (what an engine UDF's unpickling imports)

        reads: list[str] = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            # a worker that has not run an engine task since the replacement
            # was installed records its stamps here, one read per archive
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        archives = [
            imp.archive
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        ]
        return pa.table(
            {
                "first": pa.array([first], pa.int64()),
                "reads": pa.array([len(reads) - first], pa.int64()),
                "archives": pa.array([archives], pa.list_(pa.string())),
            }
        )

    rows = (
        spark.range(4, numPartitions=4)
        .groupBy("id")
        .applyInArrow(probe, "first long, reads long, archives array<string>")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["reads"] == 0, r
        assert r["first"] <= len(set(r["archives"])), r
        assert sum(a.endswith("pyspark.zip") for a in r["archives"]) > 1, r
