"""The Python worker daemon (``worker_daemon``): zip importers re-read an
archive only when its stamp changed, and the daemon imports on the
executors even when the driver runs outside the repo."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from vector_search_go_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_stamped_invalidation_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"_zipstamp_a.py": "VALUE = 'a'\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._stamped_invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("_zipstamp_a").VALUE == "a"
        assert len(reads) == 1  # the importer's own first read
        importlib.invalidate_caches()  # never stamped: re-read once
        assert len(reads) == 2
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 2  # unchanged archive: no re-read

        _write_zip(archive, {"_zipstamp_a.py": "VALUE = 'a'\n", "_zipstamp_b.py": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert len(reads) == 3  # rewritten archive: re-read
        assert importlib.import_module("_zipstamp_b").VALUE == "b"
        importlib.invalidate_caches()
        assert len(reads) == 3

        os.remove(archive)
        importlib.invalidate_caches()  # missing archive: the original path
        assert sys.path_importer_cache[archive]._files == {}
    finally:
        for name in ("_zipstamp_a", "_zipstamp_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        worker_daemon._stamps.pop(archive, None)


_OFF_REPO_JOB = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from vector_search_go_spark.session import get_spark

    def patched(_=None):
        import zipimport
        return zipimport.zipimporter.invalidate_caches.__qualname__

    def arrow_patched(batches):
        import pyarrow as pa
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"name": [patched()]})

    spark = get_spark("daemon-off-repo", cpus=2)
    rdd = spark.sparkContext.parallelize([1], 1).map(patched).collect()
    arrow = [r["name"] for r in
             spark.range(1, numPartitions=1).mapInArrow(arrow_patched, "name string").collect()]
    spark.stop()
    print(json.dumps({"rdd": rdd, "arrow": arrow}))
    """
)


def test_daemon_runs_outside_repo_with_stamped_invalidation(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OFF_REPO_JOB, ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    names = json.loads(out.stdout.strip().splitlines()[-1])
    expected = (
        "_stamped_invalidate_caches" if sys.version_info < (3, 12)
        else "zipimporter.invalidate_caches"
    )
    assert names == {"rdd": [expected], "arrow": [expected]}
