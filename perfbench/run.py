"""Benchmark of record for pyperustats_spark.

    python3 perfbench/run.py --workload series_fetch --seed 1 --seconds 5 --trace 0

Runs from the root of a source checkout, on the sf0.1 tables under
perfbench/data. It sets the workload up SETUPS times in fresh processes
(the median is ``setup_s``), runs the closed-loop timed operations in
the last of them, checks every result, and prints one JSON object as
the last line of standard output. ``--trace 1`` instead runs the seed
twice, untraced and then traced, and prints the per-layer figures and
the tracing overhead. Spark's own output goes to standard error. All state
lives under ``.perfbench_runs/`` in the checkout and is removed when
the run ends; traced runs also leave their span log in
``.perfbench_traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
sys.path.insert(0, HERE)

import stats  # noqa: E402

SETUPS = 2
RUN_LIMIT_S = 175.0

# the end-to-end metrics every workload has; BENCHMARK.json bounds these
END_TO_END = {"setup_s": "s", "p50_s": "s", "ops_per_s": "1/s"}
# reported beside them where the workload has them, without a bound
# (see perfbench/README.md)
REPORTED = {"fail_ratio": "ratio", "docs_per_s": "1/s", "space_amp": "ratio",
            "peak_rss_mb": "MB", "p90_s": "s", "p99_s": "s", "p99.9_s": "s"}
PER_LAYER = {
    "api.fetch.call_s": "s/op",
    "api.validate_codes.s": "s/op",
    "sources.cache.missing_codes.s": "s/op",
    "sources.cache.append.s": "s/op",
    "sources.cache.load.s": "s/op",
    "sources.cache.compact.s": "s/op",
    "sources.cache.files": "count",
    "sources.cache.bytes_written": "B/op",
    "sources.cache.hit_ratio": "ratio",
    "operators.timeseries.resample.s": "s/op",
    "operators.timeseries.pivot_wide.s": "s/op",
    "api.incremental_release.call_s": "s/op",
    "api.incremental_release.keep_ratio": "ratio",
    "operators.dedup.plan_s": "s/op",
    "operators.textops.plan_s": "s/op",
    "sources.ledger.seen_keys.s": "s/op",
    "sources.ledger.append_release.s": "s/op",
    "sources.ledger.bytes_written": "B/op",
    "sources.exporter.export_shards.s": "s/op",
    "sources.exporter.bytes_written": "B/op",
    "sources.registry.load_table.s": "s/op",
    "operators.relational.plan_s": "s/op",
    "operators.events.plan_s": "s/op",
    "engine.action.s": "s/op",
    "engine.jobs_per_op": "count/op",
    "engine.tasks_per_op": "count/op",
    "engine.exchanges_per_op": "count/op",
    "trace.overhead_p50_s": "s",
}
# per-layer metric -> span name; ".call_s" is inclusive time, the rest
# self time (span duration minus its child spans)
SPAN_OF = {m: m.rsplit(".", 1)[0] for m in PER_LAYER
           if m.endswith((".s", ".plan_s", ".call_s"))}
SPAN_OF["engine.action.s"] = "engine.action"

# tables each workload reads
TABLES = {
    "series_fetch": ("supplier", "lineitem"),
    "corpus_release": ("documents",),
    "catalog_analytics": ("region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events"),
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def stop_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the worker's group (the worker and its
    JVM) to end; signal them if they linger."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + grace_s
        while time.monotonic() < end:
            if not group_alive(pgid):
                return
            time.sleep(0.1)


def spawn(args: argparse.Namespace, run_root: str, tag: str, deadline: float,
          setup_only: bool = False, trace: int = 0) -> dict:
    state = os.path.join(run_root, tag)
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp)
    out = os.path.join(state, "result.json")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    conf = {
        "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
        "spark.local.dir": os.path.join(state, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                                        for k, v in conf.items()) + " pyspark-shell",
        "SPARK_LOCAL_DIRS": conf["spark.local.dir"],
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--data", DATA, "--state", state, "--out", out,
           "--cpus", str(len(os.sched_getaffinity(0)))]
    if setup_only:
        cmd.append("--setup-only")
    t0 = time.monotonic()
    proc = subprocess.Popen([*cmd, "--t0", repr(t0)], cwd=ROOT, env=env,
                            stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc.pid, grace_s=0.0 if proc.poll() is None else 20.0)
        proc.wait()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"{tag} worker failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def end_to_end(workload: str, main: dict, setups: list[float]) -> dict[str, float]:
    lat = main["latencies"]
    failed = sum(1 for ok in main["ok"] if not ok)
    e2e = {"setup_s": statistics.median(setups),
           "p50_s": statistics.median(lat),
           "ops_per_s": len(lat) / main["loop_s"],
           "fail_ratio": failed / len(lat),
           "peak_rss_mb": main["peak_rss_mb"]}
    tail = stats.tail(lat)
    if tail is not None:
        p, value, beyond = tail
        e2e[f"p{p:g}_s"] = value
        e2e["tail_samples_beyond"] = beyond
    if workload == "corpus_release":
        e2e["docs_per_s"] = main["context"]["docs_timed"] / main["loop_s"]
    return e2e


def with_units(e2e: dict[str, float]) -> dict[str, dict]:
    units = {**END_TO_END, **REPORTED}
    return {k: {"value": v, "unit": units.get(k, "count")} for k, v in e2e.items()}


def layer_metrics(traced: dict, untraced: dict) -> dict[str, float]:
    spans = traced["spans"]
    values = {}
    for m, span in SPAN_OF.items():
        agg = spans.get(span, {})
        values[m] = agg.get("incl_s" if m.endswith(".call_s") else "self_s", 0.0)
    for k in ("jobs", "tasks", "exchanges"):
        values[f"engine.{k}_per_op"] = traced["engine"][k]
    for layer in ("sources.cache", "sources.ledger", "sources.exporter"):
        values[f"{layer}.bytes_written"] = traced["bytes_written"].get(layer, 0.0)
    # counters a workload does not have read 0
    for m in ("sources.cache.files", "sources.cache.hit_ratio",
              "api.incremental_release.keep_ratio"):
        values[m] = traced["counts"].get(m, 0.0)
    values["trace.overhead_p50_s"] = (statistics.median(traced["latencies"])
                                      - statistics.median(untraced["latencies"]))
    return values


def run(args: argparse.Namespace, run_root: str) -> tuple[dict, dict]:
    deadline = time.monotonic() + RUN_LIMIT_S
    # a traced run sets up twice anyway: untraced, then traced
    phases = [spawn(args, run_root, f"setup{k}", deadline, setup_only=True)["setup_phases"]
              for k in range(0 if args.trace else SETUPS - 1)]
    main = spawn(args, run_root, "main", deadline)
    phases.append(main["setup_phases"])
    e2e = end_to_end(args.workload, main, [sum(p.values()) for p in phases])
    failed = sum(1 for ok in main["ok"] if not ok)
    lat = main["latencies"]
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": len(os.sched_getaffinity(0)),
        "spark_version": spark_version(), "input_rows": input_rows(args.workload),
        "operations": len(lat), "failed": failed, "setups": phases,
        "latencies_s": [round(x, 4) for x in lat],
        **main["context"],
        "end_to_end": with_units(e2e),
    }
    if args.trace:
        # the same seed once more, with every operation traced; the
        # difference between the two runs is the tracing overhead
        traced = spawn(args, run_root, "traced", deadline, trace=1)
        metrics = layer_metrics(traced, main)
        if traced["space_amp"] is not None:
            report["end_to_end"]["space_amp"] = {"value": traced["space_amp"],
                                                 "unit": REPORTED["space_amp"]}
        report["traced_end_to_end"] = with_units(end_to_end(
            args.workload, traced, [sum(traced["setup_phases"].values())]))
        report["setups"].append(traced["setup_phases"])
        failed += sum(1 for ok in traced["ok"] if not ok)
        lat = lat + traced["latencies"]
        report["traced_latencies_s"] = [round(x, 4) for x in traced["latencies"]]
        report["spans"] = traced["spans"]
        write_span_log(args, traced["span_log"])
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": len(lat), "failed": failed,
              "metrics": out}
    return report, result


def input_rows(workload: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {t: pq.ParquetFile(os.path.join(DATA, f"{t}.parquet")).metadata.num_rows
            for t in TABLES[workload]}


def spark_version() -> str:
    try:
        from importlib.metadata import version
        return version("pyspark")
    except Exception:
        return "unknown"


def write_span_log(args: argparse.Namespace, spans: list[dict]) -> None:
    d = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(spans, f)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        return fail("--seconds must be positive")
    for need in ("pyperustats_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return fail(f"{need} not found beside perfbench/; run from a source checkout")
    if not os.path.isdir(DATA):
        return fail(f"input tables not found in {DATA}")
    run_root = os.path.join(ROOT, ".perfbench_runs",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        report, result = run(args, run_root)
    except RuntimeError as exc:
        return fail(str(exc))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
