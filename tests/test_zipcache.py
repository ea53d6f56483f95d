"""zipimport re-reads an archive's directory on invalidate_caches() only
when the archive changed (pdf_extract_spark/zipcache.py, Python < 3.13)."""

import os
import subprocess
import sys
import textwrap
from collections import defaultdict

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport only drops its cache from 3.13 on"
)

CHILD = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    zp = sys.argv[1]
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("zc_mod_a.py", "A = 1\\n")
    sys.path.insert(0, zp)
    import zc_mod_a

    import pdf_extract_spark  # installs the stamped invalidate_caches

    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)
    importlib.invalidate_caches()
    assert reads == [], reads

    st = os.stat(zp)
    with zipfile.ZipFile(zp, "a") as z:
        z.writestr("zc_mod_b.py", "B = 2\\n")
    os.utime(zp, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [zp], reads
    import zc_mod_b

    assert (zc_mod_a.A, zc_mod_b.B) == (1, 2)
    print("ok")
    """
)


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(tmp_path / "mods.zip")],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_python_tasks_do_not_reread_zips(spark):
    """Each task's invalidate_caches() (pyspark.worker_util) must not
    re-read the worker's zip archives once the package is imported: a
    worker's count of directory reads stays flat after its first task."""

    def count_reads(batches):
        import os
        import zipimport

        import pyarrow as pa

        import pdf_extract_spark  # noqa: F401 - what any package UDF imports

        if not hasattr(zipimport, "_reads_seen"):
            zipimport._reads_seen = 0
            real = zipimport._read_directory

            def counting(archive):
                zipimport._reads_seen += 1
                return real(archive)

            zipimport._read_directory = counting
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [zipimport._reads_seen]})

    rows = (
        spark.range(16, numPartitions=16)
        .mapInArrow(count_reads, "pid long, reads long")
        .collect()
    )
    assert len(rows) == 16
    by_worker = defaultdict(set)
    for r in rows:
        by_worker[r.pid].add(r.reads)
    assert len(by_worker) < 16  # workers are reused, so some ran several tasks
    assert all(len(counts) == 1 for counts in by_worker.values()), dict(by_worker)
