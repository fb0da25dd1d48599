"""Seeded benchmark of the Rural Access Index pipeline.

    python3 perfbench/run.py --workload points_rai --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout.  Each run builds its inputs from
the seed (cached per seed under ``.perfbench/cache``), then starts a
fresh Spark session on ``local[nproc]`` in a new process, which sets up,
runs the workload's job once cold, then a fixed number of untimed
warm-ups and timed warm executions, sized so that a run takes about
``--seconds`` on 4 cores (the counts are fixed, so a slow host makes
the run longer rather than the sample smaller).  Every execution is
checked against the seed's reference outside the timed region.  One
client runs one job at a time (closed loop).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs an
untraced and a traced session with the same executions, plus (for
points_rai) a traced session on ``local[1]``, and prints the per-layer
split.  Before the result it prints the environment and each execution's
runtime decisions, then every metric by name with its unit, ``fail_frac``
included.  The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402

DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 150


def _spark_defaults(conf_dir: str, tmp: str, events: str | None) -> None:
    lines = [
        # a heap of fixed size: how far G1 grows it otherwise varies from
        # run to run by hundreds of MB
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Xms{DRIVER_MEM}",
        f"spark.sql.warehouse.dir {os.path.join(tmp, 'warehouse')}",
        "spark.ui.showConsoleProgress false",
    ]
    if events:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{events}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    os.makedirs(conf_dir)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")


def run_session(work: str, wl, in_dir: str, cores: int, budget_s: float,
                min_warm: int, traced: bool = False, executions: bool = True,
                prefix_reps: int = 0, warmup: int = 0) -> dict:
    """One fresh process with its own empty TMPDIR and Spark local dirs,
    so no state carries over between sessions; all are deleted after.

    ``executions``: run the job cold, then ``warmup`` untimed times, then
    warm at least ``min_warm`` times and until ``budget_s`` after launch.
    ``prefix_reps``: then time each layer prefix that often."""
    sdir = tempfile.mkdtemp(prefix="session-", dir=work)
    tmp, local = os.path.join(sdir, "tmp"), os.path.join(sdir, "local")
    events = os.path.join(sdir, "events") if traced else None
    for d in (tmp, local) + ((events,) if events else ()):
        os.makedirs(d)
    _spark_defaults(os.path.join(sdir, "conf"), tmp, events)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_CONF_DIR": os.path.join(sdir, "conf"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"]
                              if env.get("PYTHONPATH") else ""),
    })
    result_path = os.path.join(sdir, "result.json")
    spec = {"workload": wl.name, "in_dir": in_dir, "work_dir": sdir,
            "cores": cores, "trace": traced, "executions": executions,
            "prefix_reps": prefix_reps, "warmup": warmup, "min_warm": min_warm,
            "max_warm": max(min_warm, wl.max_warm),
            "result_path": result_path}
    spec_path = os.path.join(sdir, "spec.json")
    t_launch = time.time()
    spec.update(t_launch=t_launch, warm_until=t_launch + budget_s)
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(sdir, "child.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "child.py"), spec_path],
                cwd=sdir, env=env, stdout=log, stderr=subprocess.STDOUT)
            with procs.TreeSampler(proc.pid) as sampler:
                try:
                    code = proc.wait(timeout=CHILD_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    code = proc.wait()
        procs.reap_all(timeout_s=20)
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            return {"crashed": True}
        with open(result_path) as f:
            out = json.load(f)
        out["peak_rss_mb"] = sampler.peak_rss_mb
        out["workers_started"] = len(sampler.worker_pids)
        if events:
            import eventlog

            logs = [os.path.join(events, n) for n in os.listdir(events)]
            out["spark"] = eventlog.parse(logs[0]) if logs else {}
        return out
    finally:
        shutil.rmtree(sdir, ignore_errors=True)


def _execs(s: dict) -> list[dict]:
    return [] if s.get("crashed") or s["cold"] is None else [
        s["cold"], *s["warmup"], *s["warm"]]


def _tally(sessions: list[dict]) -> tuple[int, int]:
    attempted = failed = 0
    for s in sessions:
        if s.get("crashed"):
            attempted += 1
            failed += 1
        for e in _execs(s):
            attempted += 1
            failed += not e["ok"]
    return attempted, failed


def end_to_end(s: dict) -> dict:
    attempted, failed = _tally([s])
    warm_s = statistics.median(e["s"] for e in s["warm"])
    return {
        "setup_s": (s["setup_s"], "s"),
        "cold_s": (s["cold"]["s"], "s"),
        "warm_s": (warm_s, "s"),
        "rows_per_s": (s["input_rows"] / warm_s, "rows/s"),
        "cpu_s": (statistics.median(e["cpu_s"] for e in s["warm"]), "s"),
        "peak_rss_mb": (s["peak_rss_mb"], "MB"),
        "fail_frac": (failed / attempted, "ratio"),
        "_warm_samples": (len(s["warm"]), "count"),
    }


def environment(args, cores: int) -> dict:
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True).stdout.strip() or None
    except OSError:
        sha = None
    java = subprocess.run(["java", "-version"], text=True,
                          capture_output=True).stderr.splitlines()
    return {"git_sha": sha, "seed": args.seed, "workload": args.workload,
            "nproc": cores, "loadavg_start": list(os.getloadavg()),
            "java": java[0] if java else None, "pyspark": pyspark.__version__,
            "python": platform.python_version()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sdg_engine", "__init__.py")):
        sys.stderr.write(f"no sdg_engine package under {ROOT}; run from a checkout\n")
        return 2
    sys.path.insert(0, ROOT)
    import inputs
    import jobs

    if args.workload not in jobs.WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(jobs.WORKLOADS)}\n")
        return 2
    cores = len(os.sched_getaffinity(0))
    env_info = environment(args, cores)
    steal0 = procs.cpu_ticks()
    state = os.path.join(ROOT, ".perfbench")
    in_dir = inputs.input_dir(os.path.join(state, "cache"), args.workload, args.seed)
    os.makedirs(os.path.join(state, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(state, "work"))
    wl = jobs.WORKLOADS[args.workload]
    procs.become_subreaper()
    try:
        if args.trace:
            import layers

            # the untraced and traced sessions run the same executions, so
            # their warm medians differ only by the tracing
            sessions = [run_session(work, wl, in_dir, cores, 0, wl.trace_warm),
                        run_session(work, wl, in_dir, cores, 0, wl.trace_warm,
                                    traced=True, prefix_reps=wl.prefix_reps)]
            if wl.scaling:
                sessions.append(run_session(work, wl, in_dir, 1, 0, 0, traced=True,
                                            executions=False, prefix_reps=1))
            metrics = None if any(s.get("crashed") for s in sessions) else \
                layers.per_layer(wl.name, cores, *sessions[:2],
                                 sessions[2] if len(sessions) > 2 else None)
        else:
            sessions = [run_session(work, wl, in_dir, cores, args.seconds, wl.min_warm,
                                    warmup=wl.warmup)]
            metrics = None if sessions[0].get("crashed") else end_to_end(sessions[0])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = _tally(sessions)
    env_info["loadavg_end"] = list(os.getloadavg())
    steal1 = procs.cpu_ticks()
    env_info["cpu_steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    if metrics is None:
        sys.stderr.write("every session crashed; no result\n")
        return 1
    decisions = {e["label"]: e.get("decisions") for s in sessions for e in _execs(s)}
    print(json.dumps({"environment": env_info, "decisions": decisions}))
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name.lstrip('_'):48s} {value:14.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    if not k.startswith("_") and k != "fail_frac"},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
