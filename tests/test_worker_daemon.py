"""The Python worker daemon ``session.get_spark`` installs: zipimporters
re-read an archive's directory only when the archive changed."""

import importlib.util
import os
import zipfile
import zipimport

import pandas as pd

from datasketches_pig_spark import _worker_daemon


def _write_zip(path, members: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)  # a rewrite, as a redeployed archive would be


def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"dsps_zip_a.py": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker_daemon.invalidate_caches
    )
    importer = zipimport.zipimporter(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    importer.invalidate_caches()  # first call: no recorded key yet
    assert len(reads) == 1
    importer.invalidate_caches()
    assert len(reads) == 1, "an unchanged archive was re-read"

    _write_zip(archive, {"dsps_zip_a.py": "X = 1\n", "dsps_zip_b.py": "Y = 2\n"})
    importer.invalidate_caches()
    assert len(reads) == 2
    spec = importer.find_spec("dsps_zip_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    os.remove(archive)  # a failed stat always falls back to the stock re-read
    importer.invalidate_caches()
    assert len(reads) == 3
    assert importer.find_spec("dsps_zip_a") is None


def test_session_workers_run_the_daemon(spark):
    n = 2 * spark.sparkContext.defaultParallelism

    def probe(batches):
        import zipimport

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(n, numPartitions=n).mapInPandas(probe, "m string").collect()
    assert len(got) == n
    assert {r.m for r in got} == {"datasketches_pig_spark._worker_daemon"}
