"""Python-worker daemon with heavyweight imports preloaded (guide §4.5:
initialise heavyweight state ONCE — here once per DAEMON, inherited by
every forked worker via copy-on-write, instead of once per worker).

Measured on the r06 bench host: a bare worker pays ~0.7 s wall
(1.6 s user + 3.0 s sys — syscall-heavy page-cache faulting) importing
numpy/pandas/pyarrow at first UDF deserialization, and the FIRST
Python-evaluated stage of a session forks up to ``local[N]`` workers
simultaneously — N× that cost in a burst (32-task stages measured
~30 task-seconds of pure wait, runtime≫cpu in the event log).  Forking
from a daemon that already holds the imports makes each worker's copy
free (COW pages), cutting the burst to fork latency.

Wired via ``spark.python.daemon.module`` (public Spark conf; the
factory launches ``python -m <module>``) in session.LOCAL_ENGINE_CONFS, with
``spark.executorEnv.PYTHONPATH`` extended so this package resolves in
the daemon subprocess.  Every import is best-effort: a worker that
needs a missing module fails at use-time exactly as it would without
the preload — the daemon itself must never die on import.
"""

try:  # engine + its hot deps; workers unpickle sdg_engine functions
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
except Exception:  # pragma: no cover - preload is advisory
    pass
try:
    import sdg_engine  # noqa: F401
    import sdg_engine.cells  # noqa: F401
    import sdg_engine.codecs  # noqa: F401
    import sdg_engine.geom  # noqa: F401
    import sdg_engine.ops.payload  # noqa: F401
    import sdg_engine.ops.raster  # noqa: F401
    import sdg_engine.ops.spatial  # noqa: F401
except Exception:  # pragma: no cover - zip/pyfiles path may differ
    pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
