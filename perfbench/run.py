"""Engine benchmark: extract and index workloads over the public API.

    python3 perfbench/run.py --workload {extract,index} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One process is the single closed-loop
client: it sends the next engine call only after the previous one
returned, and adds no threads. Spark runs at ``local[<cpus>]``. The
seed derives the corpus and the query stream; the engine only sees the
generated inputs. Every run checks the engine's outputs; a mismatch or
a failed call makes ``correct`` false and the exit code 1.

Human-readable lines go to stdout first; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: docs in every workload's corpus (cached per seed)
N_DOCS = 3000


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """Driver heap: 1 GB, or a quarter of the machine when smaller. The
    heap is fixed and touched at start, so peak RSS does not depend on
    when the JVM decides to grow it."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(1024, total_kb // 4096)


class Bench:
    """Run state shared by the workloads: session, tracer, counters and
    the metrics to report."""

    def __init__(self, args, run_dir: str):
        from tracing import Tracer

        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.traced = bool(args.trace)
        self.run_dir = run_dir
        self.tracer = Tracer(self.traced)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        #: named values for the human-readable report
        self.named: dict[str, tuple[float, str, str]] = {}
        #: gated end-to-end values
        self.p50_ms = None
        self.items_per_s = None
        self.layer: dict[str, float] = {}

    # -- engine session ------------------------------------------------
    def start_session(self) -> None:
        from tlhop_library_spark.session import get_spark

        n = cpus()
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={self.run_dir} -XX:-UsePerfData "
                f"-Xms{driver_mem_mb()}m -XX:+AlwaysPreTouch"
            ),
        }
        if self.traced:
            self.event_dir = os.path.join(self.run_dir, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench", master=f"local[{n}]", shuffle_partitions=n,
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t

    def stop_session(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            gw.shutdown()
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    # -- operations ----------------------------------------------------
    def call(self, name: str, fn, *a, op: int = 0, **kw):
        """Run one engine call as one attempted operation inside a span.
        Returns (result, seconds, spark_jobs); result is None when the
        call raised (counted as failed, traceback on stderr).
        spark_jobs is only counted in traced runs (else None)."""
        self.attempted += 1
        group = None
        if self.traced:
            group = f"perfbench-{name}-{self.attempted}"
            self.spark.sparkContext.setJobGroup(group, name)
        t = time.perf_counter()
        try:
            with self.tracer.span(name, op=op):
                res = fn(*a, **kw)
        except Exception:
            self.failed += 1
            print(f"FAILED {name}:", file=sys.stderr)
            traceback.print_exc()
            return None, time.perf_counter() - t, None
        dt = time.perf_counter() - t
        jobs = None
        if group is not None:
            jobs = len(
                self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            )
        return res, dt, jobs

    def check(self, ok: bool, what: str) -> None:
        """One correctness check: counts as attempted, failed if not ok."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH {what}", file=sys.stderr)

    def bad(self, what: str) -> None:
        """An attempted operation returned a wrong result."""
        self.failed += 1
        print(f"MISMATCH {what}", file=sys.stderr)

    def more(self, t_end: float, samples: list) -> bool:
        """Closed-loop condition: keep going until ``t_end``, and past it
        until the first sample, unless a call has already failed."""
        return time.perf_counter() < t_end or not (samples or self.failed)

    def name(self, key: str, value: float, unit: str, note: str = "") -> None:
        self.named[key] = (value, unit, note)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["extract", "index"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "tlhop_library_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )

    # a fresh run directory: no index outlives its run
    runs = os.path.join(WORK, "runs")
    if os.path.isdir(runs):
        for old in os.listdir(runs):
            pid = old.rsplit("-", 1)[-1]
            if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
                shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark_local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    try:
        return _run(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, spec: dict, run_dir: str) -> int:
    import inputs
    import workloads
    from tracing import cpu_s, fold_event_log, jvm_pid, peak_rss_mb

    corpus = inputs.Corpus(os.path.join(WORK, "corpus"), args.seed, N_DOCS)
    b = Bench(args, run_dir)
    t_wall0 = time.time()
    try:
        getattr(workloads, args.workload)(b, corpus)
        jpid = jvm_pid(os.getpid())
        rss_py = peak_rss_mb(os.getpid())
        rss_jvm = peak_rss_mb(jpid) if jpid else 0.0
        rss = rss_py + rss_jvm
        cpu = cpu_s(os.getpid()) + (cpu_s(jpid) if jpid else 0.0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        b.stop_session()
    t_wall1 = time.time()

    e2e = {
        "setup_s": b.setup_s,
        "peak_rss_mb": rss,
        "p50_ms": b.p50_ms,
        "items_per_s": b.items_per_s,
    }
    attempted = max(b.attempted, 1)
    b.name("failed_frac", b.failed / attempted, "ratio",
           f"{b.failed} of {attempted} operations and checks")
    b.name("setup_s", b.setup_s, "s")
    b.name("peak_rss_mb", rss, "MB",
           f"VmHWM python {rss_py:.0f} + driver JVM {rss_jvm:.0f}")
    print(f"== perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"local[{cpus()}] docs={N_DOCS}")
    for k, (v, unit, note) in b.named.items():
        print(f"  {k:28s} {v:14.4f} {unit:10s} {note}")

    if b.traced:
        b.layer.update(fold_event_log(b.event_dir, t_wall0 * 1e3, t_wall1 * 1e3))
        b.layer["proc.cpu_s"] = cpu
        b.layer["proc.rss_mb"] = rss
        b.layer["traced.p50_ms"] = b.p50_ms
        b.layer["traced.items_per_s"] = b.items_per_s
        b.tracer.dump(os.path.join(WORK, f"spans-{args.workload}.json"))
        print("  span tree (count, total s, self s, name):")
        for line in b.tracer.tree():
            print("   ", line)
        last = _load_last(args)
        for k in ("p50_ms", "items_per_s") if last else ():
            print(f"  tracing overhead {k}: traced {e2e[k]:.4f} - "
                  f"untraced {last[k]['value']:.4f} = "
                  f"{e2e[k] - last[k]['value']:+.4f}")
        names, values = spec["per_layer"], b.layer
    else:
        names, values = spec["end_to_end"], e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"]) or 0.0),
                    "unit": m["unit"]}
        for m in names
    }
    if not b.traced:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(_last_path(args), "w") as f:
            json.dump(metrics, f)

    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0 if b.failed == 0 else 1


def _last_path(args) -> str:
    """Where an untraced run leaves its end-to-end values, so a traced
    run of the same workload and seed can report tracing overhead."""
    return os.path.join(WORK, "results", f"{args.workload}-{args.seed}.json")


def _load_last(args):
    try:
        with open(_last_path(args)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


if __name__ == "__main__":
    sys.exit(main())
