"""One benchmark process: start Spark, set one workload up, and (unless
``--setup-only``) run its closed-loop timed operations, check them and
write the raw measurements as JSON to ``--out``.

Started by run.py with a private state directory; not meant to be run
by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback


def proc_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of *pid* in MiB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def child_pids(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def snapshot(dirs: dict[str, str]) -> dict[str, dict[str, tuple[int, int]]]:
    snap = {}
    for layer, root in dirs.items():
        files = {}
        for dirpath, _d, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                files[p] = (st.st_size, st.st_mtime_ns)
        snap[layer] = files
    return snap


def bytes_written(before: dict, after: dict) -> dict[str, int]:
    return {layer: sum(sz for p, (sz, mt) in files.items()
                       if before.get(layer, {}).get(p) != (sz, mt))
            for layer, files in after.items()}


def install_tracing(tracer, spark) -> None:
    import __spark_entry__

    from pyperustats_spark import api
    from pyperustats_spark.operators import dedup, events, relational, textops, timeseries
    from pyperustats_spark.sources import cache, exporter, ledger, registry

    probe = spark.range(1)
    tracer.patch_actions(type(probe), type(probe.write))
    tracer.patch(api.SeriesClient, "fetch", "api.fetch")
    tracer.patch(api.SeriesClient, "validate_codes", "api.validate_codes")
    for m in ("missing_codes", "append", "load", "compact"):
        tracer.patch(cache.IncrementalParquetCache, m, f"sources.cache.{m}")
    for m in ("resample", "pivot_wide"):
        tracer.patch(timeseries, m, f"operators.timeseries.{m}")
    tracer.patch(api, "incremental_release", "api.incremental_release")
    tracer.patch_module(dedup, "operators.dedup")
    tracer.patch_module(textops, "operators.textops")
    tracer.patch_module(relational, "operators.relational")
    tracer.patch_module(events, "operators.events")
    for m in ("seen_keys", "append_release"):
        tracer.patch(ledger.CorpusLedger, m, f"sources.ledger.{m}")
    tracer.patch(exporter, "export_shards", "sources.exporter.export_shards")
    tracer.patch(registry, "load_table", "sources.registry.load_table")
    # the entry module imported load_table by name before the patch
    tracer.patch(__spark_entry__, "load_table", "sources.registry.load_table")


def engine_counts(spark, group: str, frames: list) -> dict[str, int]:
    """Jobs, completed tasks and executed exchanges of one operation."""
    from spans import count_exchanges

    sc = spark.sparkContext
    # the status store is fed asynchronously; drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            stage = st.getStageInfo(s)
            tasks += stage.numCompletedTasks if stage else 0
    exchanges = sum(count_exchanges(df._jdf.queryExecution().executedPlan().toString())
                    for df in frames)
    return {"jobs": len(jobs), "tasks": tasks, "exchanges": exchanges}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="CLOCK_MONOTONIC reading taken just before this process was spawned")
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--setup-only", action="store_true")
    a = ap.parse_args(argv)

    from pyperustats_spark.session import get_spark
    from workloads import WORKLOADS

    t_import = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{a.workload}", master=f"local[{a.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.monotonic()
    try:
        wl = WORKLOADS[a.workload](spark, a.data, a.state, a.seed)
        wl.setup()
        t_setup = time.monotonic()
        result = {"setup_s": t_setup - a.t0,
                  "setup_phases": {"imports_s": t_import - a.t0,
                                   "session_s": t_session - t_import,
                                   "workload_s": t_setup - t_session}}
        if not a.setup_only:
            result.update(timed_loop(spark, wl, a))
        with open(a.out, "w") as f:
            json.dump(result, f)
    finally:
        spark.stop()
    return 0


def timed_loop(spark, wl, a) -> dict:
    """Closed loop: each operation starts when the previous one (and any
    maintenance after it) has finished, until ``--seconds`` have passed
    and a round of the workload's operations is complete, or until its
    operation stream has run out. With ``--trace 1`` every operation is
    traced."""
    from spans import Tracer, summarize

    tracer = Tracer()
    if a.trace:
        install_tracing(tracer, spark)
    sc = spark.sparkContext
    lat, results, engine, written = [], [], [], []
    start = time.monotonic()
    deadline = start + a.seconds
    i = 0
    while i < wl.n_ops and (i % wl.round_len or time.monotonic() < deadline):
        if a.trace:
            sc.setJobGroup(f"perfbench-op-{i}", wl.name)
            before = snapshot(wl.layer_dirs)
            tracer.op = i
            tracer.enabled = True
        t = time.perf_counter()
        try:
            res = wl.run_op(i)
        except Exception:
            traceback.print_exc()
            res = None
        lat.append(time.perf_counter() - t)
        wl.after_op(i)
        tracer.enabled = False
        if a.trace:
            engine.append(engine_counts(spark, f"perfbench-op-{i}",
                                        tracer.action_frames.pop(i, [])))
            written.append(bytes_written(before, snapshot(wl.layer_dirs)))
        results.append(res)
        i += 1
    loop_s = time.monotonic() - start
    assert len(lat) <= wl.n_ops
    tracer.restore()
    me = os.getpid()
    # read before the checks, so only set-up and the timed loop count
    rss = proc_peak_rss_mb(me) + sum(proc_peak_rss_mb(p) for p in child_pids(me))
    t = time.monotonic()
    checks = wl.check(results)
    t_check = time.monotonic()
    # rewriting the live rows takes seconds, so only traced runs do it
    space = wl.space_amp() if a.trace else None
    post = {"check_s": t_check - t, "space_amp_s": time.monotonic() - t_check,
            "stream_ops": wl.n_ops, "stream_exhausted": len(lat) == wl.n_ops}
    out = {"latencies": lat, "loop_s": loop_s, "ok": checks,
           "space_amp": space, "peak_rss_mb": rss, "counts": wl.layer_counts(),
           "context": {**wl.context(), **post}}
    if a.trace:
        n = len(engine)
        out["spans"] = summarize(tracer.spans, n)
        out["engine"] = {k: sum(e[k] for e in engine) / n
                         for k in ("jobs", "tasks", "exchanges")}
        layers = {k for w in written for k in w}
        out["bytes_written"] = {k: sum(w[k] for w in written) / n for k in layers}
        out["span_log"] = [vars(s) for s in tracer.spans]
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
