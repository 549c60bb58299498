#!/usr/bin/env python3
"""perfbench: seeded end-to-end benchmark of the engine's public API.

    python3 perfbench/run.py --workload index|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed (cached under `.perfbench/cache`), runs it on `local[4]` from
one client thread, checks every answer outside the timed windows, and
prints one `metric name = value unit` line per metric followed, as the
last line, by one JSON object {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-phase layer metrics from the Spark event log; the traced run also
prints (and writes under `.perfbench/runs/`) the per-module roll-up and
its overhead against an untraced run of the same workload and seed made
just before it. README.md documents the workloads, metrics and bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CORES = 4
MEM_PERIOD_S = 0.2  # how often MemSampler reads /proc
# the overhead report pairs a traced run only with an untraced run of the
# same workload and seed that ended at most this long before it started,
# so that host drift between the two runs stays small
PAIR_GAP_S = 120

E2E_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "write_docs_per_s": "docs/s",
    "stored_bytes_per_input_byte": "B/B", "read_p50_s": "s",
    "reads_per_s": "1/s", "update_s": "s", "maintain_s": "s",
}


def _children() -> dict:
    """ppid -> [pid] over every process in /proc."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _descendants(root_pid: int) -> list:
    children, out, todo = _children(), [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_pss_mb(root_pid: int) -> float:
    """Proportional set size of `root_pid` and all its descendants
    (driver, JVM, Python workers), from /proc. PSS splits pages shared
    by forked Python workers among them instead of counting them once
    per worker, so the sum does not grow with idle forked workers."""
    total_kb = 0
    for pid in [root_pid] + _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # exited between the listing and the read
    return total_kb / 1024


class MemSampler(threading.Thread):
    """Peak of `_tree_pss_mb` over the life of the Spark session."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._stop_ev = threading.Event()

    def run(self):
        pid = os.getpid()
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, _tree_pss_mb(pid))
            self._stop_ev.wait(MEM_PERIOD_S)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        return self.peak


class Context:
    """Directories, the tracer and the Spark session of one run."""

    def __init__(self, run_id: str, tracer):
        self.run_id = run_id
        self.tracer = tracer
        self.cache = os.path.join(STATE, "cache")
        self.work = os.path.join(STATE, "work", run_id)
        self.tmp = os.path.join(self.work, "tmp")
        self.events = os.path.join(self.work, "eventlog")
        self.spark = None
        self.mem = MemSampler()
        self.calib = None
        self._probe = None
        for d in (self.cache, self.tmp, self.events):
            os.makedirs(d, exist_ok=True)

    def start_probe(self) -> None:
        """Start bench.py's single-thread CPU and memory-bandwidth probes
        (context for host drift, not a metric) in a child process. They
        run beside the workload's input generation and expected answers,
        which use one core of the main process, and `start_session`
        waits for them, so they never overlap Spark."""
        self._probe = subprocess.Popen(
            [sys.executable, "-c", "import json, bench; "
             "print(json.dumps(bench._host_calibration()))"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def _finish_probe(self) -> None:
        out, _ = self._probe.communicate()
        if self._probe.returncode != 0:
            raise RuntimeError("bench._host_calibration() failed")
        self.calib = json.loads(out.splitlines()[-1])

    def stop_probe(self) -> None:
        if self._probe is not None and self._probe.poll() is None:
            self._probe.kill()
            self._probe.wait()

    def start_session(self):
        from information_retrieval_spark.session import get_spark

        self._finish_probe()

        conf = {
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }
        if self.tracer.enabled:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.mem.start()
        with self.tracer.span("session.start", "session"):
            self.spark = get_spark(app_name=f"perfbench-{self.run_id}",
                                   master=f"local[{CORES}]",
                                   shuffle_partitions=2 * CORES,
                                   extra_conf=conf)
        self.tracer.attach(self.spark)
        self.tracer.wrap_layers()
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark, then end the gateway JVM and wait until it and the
        Python workers it started have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.tracer.unwrap_layers()
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        self.mem.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while _descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started_at = time.time()

    # the package, bench.py and __spark_entry__.py live at the checkout
    # root; Python workers inherit the path through PYTHONPATH
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    # keep every file the run writes inside the checkout: temp files,
    # Spark's local dirs, and no JVM perf-data file in the system temp dir
    os.environ["TMPDIR"] = os.path.join(STATE, "work", run_id, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    tracer = tracing.Tracer(run_id, enabled=bool(args.trace))
    ctx = Context(run_id, tracer)
    try:
        ctx.start_probe()
        res = workloads.WORKLOADS[args.workload](ctx, args.seed, args.seconds)
        res["peak_rss_mb"] = ctx.mem.peak
        report(args, ctx, tracer, res, started_at)
    finally:
        ctx.stop_session()
        ctx.stop_probe()
        shutil.rmtree(ctx.work, ignore_errors=True)
    return 0


def report(args, ctx, tracer, res, started_at) -> None:
    """Print detail and metric lines, then the result line; keep a
    record of the run under `.perfbench/runs/`."""
    calls = res.pop("calls")
    attempted = len(calls)
    failed = sum(not c.ok for c in calls)
    for c in calls:
        if not c.ok:
            print(f"FAILED {c.role} {c.cls}: {c.error}")
    details = res.pop("details")
    details["ops_failed_frac"] = failed / attempted
    record = {"run_id": ctx.run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host_calibration": ctx.calib, "end_to_end": res,
              "details": details, "attempted": attempted, "failed": failed,
              "started_at": started_at, "ended_at": time.time()}
    runs_dir = os.path.join(STATE, "runs")
    os.makedirs(runs_dir, exist_ok=True)

    for k, v in details.items():
        print(f"detail {k} = {v}")
    print(f"host_calibration = {json.dumps(ctx.calib)}")
    if args.trace:
        metrics = _trace_report(ctx, tracer, record, runs_dir)
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in E2E_UNITS.items()}
        with open(os.path.join(runs_dir, f"{args.workload}-s{args.seed}-t0.json"), "w") as f:
            json.dump(record, f, indent=1)
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def _trace_report(ctx, tracer, record, runs_dir) -> dict:
    """Roll the event log up per span; print the per-module table and
    the overhead against the untraced run of the same workload and seed
    made just before; return the per-phase metrics."""
    import tracing

    groups = tracing.read_event_log(ctx.events)
    by_name, by_phase = tracing.roll_up(tracer.spans, groups)
    for name in sorted(by_name):
        row = by_name[name]
        for k in ("count",) + tracing.COUNTERS + ("bytes", "files"):
            if k in row:
                print(f"layer {name}.{k} = {row[k]}")
    details = record["details"]
    append = by_name.get("streaming.incremental.append_batch")
    if append and details.get("batch_input_bytes"):
        derived = {
            "streaming.incremental.append_batch.bytes_written_per_input_byte":
                append["output_bytes"] / details["batch_input_bytes"],
            "streaming.incremental.postings_files": details["postings_files"]}
        for k, v in derived.items():
            print(f"layer {k} = {v}")
        record["derived"] = derived
    record["layers"] = by_name
    record["phases"] = by_phase
    base_path = os.path.join(runs_dir, f"{record['workload']}-s{record['seed']}-t0.json")
    base = None
    if os.path.exists(base_path):
        with open(base_path) as f:
            base = json.load(f)
        gap = record["started_at"] - base.get("ended_at", float("-inf"))
        if not 0 <= gap <= PAIR_GAP_S or base["seconds"] != record["seconds"]:
            print(f"overhead: the untraced run of this workload and seed is "
                  f"not the run just before this one ({gap:.0f} s apart)")
            base = None
    if base is not None:
        base = base["end_to_end"]
        record["overhead"] = {k: {"traced": record["end_to_end"][k],
                                  "untraced": base[k],
                                  "diff": record["end_to_end"][k] - base[k]}
                              for k in E2E_UNITS if k in base}
        for k, v in record["overhead"].items():
            print(f"overhead {k}: traced {v['traced']:.4f} - untraced "
                  f"{v['untraced']:.4f} = {v['diff']:+.4f}")
    elif not os.path.exists(base_path):
        print("overhead: no untraced run of this workload and seed yet")
    with open(os.path.join(runs_dir, f"{ctx.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    tracer.write_spans(os.path.join(runs_dir, f"{ctx.run_id}.spans.jsonl"))
    return tracing.phase_metrics(by_phase)


if __name__ == "__main__":
    sys.exit(main())
