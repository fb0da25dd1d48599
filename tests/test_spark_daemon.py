"""The local worker daemon: its zip directory memo and its frozen heap."""

import os
import subprocess
import sys
import textwrap

import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MEMO_PROBE = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    zpath = sys.argv[1]

    def write_zip(mods):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for m in mods:
                z.writestr(m + ".py", f"NAME = {m!r}\\n")
        os.replace(tmp, zpath)

    write_zip(["memo_a"])
    sys.path.insert(0, zpath)
    import memo_a

    from sdg_engine import spark_daemon
    spark_daemon.install_zip_memo()

    reads = []
    stock = zipimport._read_directory
    def counting(archive):
        reads.append(archive)
        return stock(archive)
    zipimport._read_directory = counting

    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], f"unchanged zip re-read {len(reads)} times"

    write_zip(["memo_a", "memo_b"])
    importlib.invalidate_caches()
    assert zpath in reads, "rewritten zip was not re-read"
    import memo_b
    assert memo_b.NAME == "memo_b"
    print("ok")
    """
)


def test_zip_memo_skips_unchanged_archives_and_rereads_changed(tmp_path):
    """Repeated ``importlib.invalidate_caches()`` calls read an unchanged
    zip's directory zero times; a rewritten zip is read again and its new
    module imports.  Runs in a subprocess: the memo patches ``zipimport``
    process-wide."""
    env = dict(os.environ, PYTHONPATH=_ROOT)
    p = subprocess.run(
        [sys.executable, "-c", _MEMO_PROBE, str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 0 and p.stdout.strip() == "ok", p.stderr[-2000:]


def test_engine_workers_fork_from_the_preloaded_daemon(spark):
    """A Python task in a ``get_spark`` local session runs in a worker
    forked from ``sdg_engine.spark_daemon``: the preloaded heap is frozen
    and ``zipimporter.invalidate_caches`` is the memo."""

    def probe(batches):
        import gc
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({
            "frozen": [gc.get_freeze_count()],
            "invalidate": [zipimport.zipimporter.invalidate_caches.__name__],
        })

    rows = spark.range(1, numPartitions=1).mapInPandas(
        probe, "frozen long, invalidate string").collect()
    assert len(rows) == 1
    assert rows[0]["frozen"] > 0
    assert rows[0]["invalidate"] == "_memo_invalidate_caches"
