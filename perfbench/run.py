#!/usr/bin/env python3
"""KG-build benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_kg --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. Set-up renders the workload's
input from the seed and writes it under ``.perfbench_run/`` in the
checkout, starts the session and warms it with a JVM-only job. Then one
pass runs in the fresh session, as a ``spark-submit`` of the build would,
and is checked against the fixtures' gold outside its timed region.

``--trace 0`` prints the end-to-end metrics of set-up and that pass.
Their timings are CPU seconds of the whole process tree (this process,
the JVM, the Python workers), which the kernel does not charge for host
steal, scaled by a speed probe run alongside to a reference core speed
(see README.md). ``--trace 1`` then runs traced and untraced passes in
ABBA order (traced, untraced, untraced, traced; repeated until
``--seconds`` have passed) and prints the per-layer metrics. A report
with the run context, every pass and the spans is written to
``.perfbench_run/reports/``. The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "1g"  # driver heap, pre-touched; Spark's default, ample for these inputs
TICK = os.sysconf("SC_CLK_TCK")
PASS_DEADLINE_S = 150  # seconds into a run after which no pass should end; runs exit by 180
WARM_SHARE = 0.6  # a warm pass takes at most this share of the cold pass's wall
PROBE_ITERS = 20_000  # the speed probe's loop length
PROBE_REF_S = 1.5e-3  # the probe's CPU time on an idle core of a 2.1 GHz Xeon vCPU

END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "triples_per_cpu_s": "triples/cpu-s",
    "peak_pss_mb": "MB",
}


def cpu_stat() -> tuple[int, int] | None:
    """(steal ticks, total ticks) from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_frac(a, b) -> float | None:
    if a and b and b[1] > a[1]:
        return round((b[0] - a[0]) / (b[1] - a[1]), 4)
    return None


def proc_stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` from the state (field 3) on."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def start_time(pid: int) -> int | None:
    """Start time of ``pid`` (field 22), which tells it apart from a later
    process that reuses the pid."""
    f = proc_stat(pid)
    return int(f[19]) if f else None


def descendants(root: int) -> dict[int, int]:
    """Every live process below ``root``: pid → start time."""
    children: dict[int, list[tuple[int, int]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = proc_stat(int(name))
        if f:
            children.setdefault(int(f[1]), []).append((int(name), int(f[19])))
    out, todo = {}, [root]
    while todo:
        for c, started in children.get(todo.pop(), []):
            out[c] = started
            todo.append(c)
    return out


def alive(pid: int, started: int) -> bool:
    """True while the process ``pid`` started at ``started`` runs; a
    zombie has ended."""
    f = proc_stat(pid)
    return bool(f) and int(f[19]) == started and f[0] != "Z"


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process below
    it, each with the children it has reaped (a Python worker that exits
    is reaped by its daemon, so its time stays in the sum). Steal is not
    charged to a process, so this does not grow with host steal."""
    me = os.getpid()
    ticks = 0
    for pid in [me, *descendants(me)]:
        f = proc_stat(pid)
        if f:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / TICK


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: pages a forked Python worker shares
    with its daemon count once across them, not once per process."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                kb += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
    return kb / 1024


def probe_s() -> float:
    """Thread CPU seconds of a fixed pure-Python loop: how fast the core
    this thread lands on runs right now. Steal is not charged to it, but
    a busy hyperthread sibling, shared caches and the host clock are."""
    t = time.thread_time()
    x = 0
    for i in range(PROBE_ITERS):
        x += i * i % 7
    return time.thread_time() - t


class Sampler:
    """A thread that, from set-up to exit, runs the speed probe every
    ``period`` seconds and samples the summed PSS of the driver JVM and
    its Python workers (every process below this one) every
    ``pss_every``-th time. ``window`` reads one interval of it."""

    def __init__(self, period: float = 0.1, pss_every: int = 5):
        self.period = period
        self.pss_every = pss_every
        # (perf_counter, probe CPU s, this thread's CPU s, PSS MB or None)
        self.samples: list[tuple[float, float, float, float | None]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        k = 0
        while not self._stop.wait(self.period):
            cost = probe_s()
            pss = pss_mb(list(descendants(me))) if k % self.pss_every == 0 else None
            k += 1
            self.samples.append((time.perf_counter(), cost, time.thread_time(), pss))

    def window(self, t0: float, t1: float) -> dict:
        """For the interval [t0, t1]: the median probe, the sampler's own
        CPU time (which interval CPU times leave out) and the peak PSS."""
        inside = [s for s in self.samples if t0 <= s[0] <= t1]
        before = [s[2] for s in self.samples if s[0] < t0]
        upto = [s[2] for s in self.samples if s[0] <= t1]
        pss = [s[3] for s in inside if s[3] is not None]
        return {
            "probe_s": statistics.median(s[1] for s in inside) if inside else PROBE_REF_S,
            "probes": len(inside),
            "sampler_cpu_s": (upto[-1] if upto else 0.0) - (before[-1] if before else 0.0),
            "peak_pss_mb": max(pss, default=0.0),
        }

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def ref_cpu_s(cpu_s: float, window: dict) -> float:
    """CPU seconds of an interval (the sampler's own left out), scaled to
    a core that runs the probe in ``PROBE_REF_S``: the host's momentary
    core speed divides out, so a noisy neighbour moves it far less than
    wall or raw CPU time."""
    return (cpu_s - window["sampler_cpu_s"]) * PROBE_REF_S / window["probe_s"]


def set_environment(work: str, cores: int) -> None:
    """Everything Spark, its JVM and Python workers write goes under the
    checkout; workers import the program from the checkout root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(cores)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -Xms{HEAP} "
        "-XX:+AlwaysPreTouch' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    started under this one (the JVM, the Python daemon and workers) to end.
    The processes are taken first, as the JVM's children outlive it under
    init; one is killed only while its pid still has the same start time."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    left = {**started, **descendants(os.getpid())}
    for pid, t in left.items():
        if alive(pid, t):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:  # ended in between
                pass
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p, t) for p, t in left.items()):
        try:
            os.waitpid(-1, os.WNOHANG)  # reap our own children
        except ChildProcessError:
            pass
        time.sleep(0.05)


class Bench:
    """One run of one workload: set-up, the cold pass, then (traced runs
    only) warm, traced and untraced passes, each checked after it."""

    def __init__(self, args, w, cores: int, run_dir: str, t_start: float):
        self.args = args
        self.t_start = t_start
        self.w = w
        self.cores = cores
        self.master = f"local[{cores}]"
        self.run_dir = run_dir
        self.work = os.path.join(run_dir, f"{w.name}-{os.getpid()}")
        self.out = os.path.join(self.work, "out")
        self.spark = None
        self.tracer = None
        self.passes: list[dict] = []
        self.sampler = Sampler()

    def close(self) -> None:
        self.sampler.close()
        stop_spark(self.spark)
        shutil.rmtree(self.work, ignore_errors=True)

    def set_up(self) -> None:
        """Start and warm the session, render the input and run the
        workload's own set-up. ``setup_s`` is the scaled CPU time this
        takes."""
        from checks import doc_range
        from spans import Tracer
        from workloads import gold

        from rdf_to_text_spark.session import get_spark

        docs = doc_range(self.args.seed, self.w.n_pages)
        st0 = cpu_stat()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench_{self.w.name}", master=self.master)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()  # JVM-only warm-up job
        t1 = time.perf_counter()
        self.inp = os.path.join(self.work, "input")
        self.info = self.w.render(self.inp, docs, self.cores)
        t2 = time.perf_counter()
        self.w.prepare(self.spark, self.inp, self.out)
        t3 = time.perf_counter()
        cpu = tree_cpu_s() - c0
        win = self.sampler.window(t0, t3)
        self.setup_s = ref_cpu_s(cpu, win)
        self.setup = {
            "ref_cpu_s": self.setup_s,
            "cpu_s": cpu,
            **win,
            "wall_s": t3 - t0,
            "session_s": t1 - t0,
            "render_s": t2 - t1,
            "prepare_s": t3 - t2,
            "steal_frac": steal_frac(st0, cpu_stat()),
        }
        self.want = gold(docs)
        self.tracer = Tracer(self.spark, enabled=False)

    def one_pass(self, kind: str) -> dict:
        """Run, time and check one pass. A pass that raises or fails its
        check counts as failed, with the check that failed."""
        self.w.start_pass(self.out)
        rec = {"kind": kind, "run_id": uuid.uuid4().hex[:8], "ok": False, "check": None}
        self.passes.append(rec)
        self.tracer.enabled = kind == "traced"
        st0 = cpu_stat()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            root = self.tracer.begin_pass(rec["run_id"])
            res = self.w.run_pass(self.spark, self.tracer, self.inp, self.out)
            self.tracer.end_pass(root)
            t1 = time.perf_counter()
            rec["wall_s"] = t1 - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            rec.update(self.sampler.window(t0, t1))
            rec["ref_cpu_s"] = ref_cpu_s(rec["cpu_s"], rec)
        except Exception as e:  # a failing pass is counted; the run goes on
            traceback.print_exc()
            rec["check"] = f"raised: {type(e).__name__}: {e}"[:500]
            return rec
        finally:
            self.tracer.enabled = False
            rec["steal_frac"] = steal_frac(st0, cpu_stat())
        rec["triples"] = sum(r["n_triples"] for r in res.chunks)
        rec["pages"] = sum(r["n_pages"] for r in res.chunks)
        rec["chunk_s"] = [r["wall_sec"] for r in res.chunks]
        rec["input_rows"] = res.input_rows
        try:
            self.w.check(self.spark, res, self.out, self.want)
            rec["ok"] = True
        except Exception as e:  # CheckFailed, or the read-back raised
            rec["check"] = str(e)[:500]
            print(f"{kind} pass failed its check: {e}", file=sys.stderr)
        if kind == "traced" and rec["ok"]:
            from spans import StatusStore, collect_counters

            collect_counters(StatusStore(self.spark), self.tracer, rec["run_id"])
        return rec

    def measure(self) -> None:
        """One pass in the fresh session: the pass a ``spark-submit`` of
        the build runs, and the one the end-to-end metrics come from.
        Traced runs then run traced and untraced passes in ABBA order, so
        that a session still warming up favours neither kind, until
        ``--seconds`` have passed; first a discarded warm pass, if the run
        has time for it. No pass starts that would likely end after
        ``PASS_DEADLINE_S`` into the run, so a run under heavy host load
        still exits in time (with an incomplete block)."""
        m0 = time.perf_counter()
        self.one_pass("cold")
        if not self.args.trace:
            self.measure_s = time.perf_counter() - m0
            return
        block = ["traced", "timed", "timed", "traced"]
        warm = WARM_SHARE * self.passes[0].get("wall_s", 0.0)
        if time.perf_counter() - self.t_start + (len(block) + 1) * warm <= PASS_DEADLINE_S:
            self.one_pass("warm")
        while True:
            for kind in block:
                last = self.passes[-1].get("wall_s", 0.0)
                if time.perf_counter() - self.t_start + last > PASS_DEADLINE_S:
                    print(f"deadline: no {kind} pass", file=sys.stderr)
                    break
                self.one_pass(kind)
            else:
                if time.perf_counter() - m0 < self.args.seconds:
                    continue
            break
        self.measure_s = time.perf_counter() - m0

    def end_to_end(self) -> dict:
        cold = self.passes[0]
        cpu = cold.get("ref_cpu_s", 0.0)
        return {
            "setup_s": self.setup_s,
            "cold_pass_cpu_s": cpu,
            "triples_per_cpu_s": cold["triples"] / cpu if cpu else 0.0,
            "peak_pss_mb": cold.get("peak_pss_mb", 0.0),
        }

    def result(self) -> dict:
        """Write the report and return the result line."""
        report = {
            "context": {
                "workload": self.w.name,
                "seed": self.args.seed,
                "pages": self.info["pages"],
                "captures": self.info["captures"],
                "input_bytes": self.info["input_bytes"],
                "nproc": self.cores,
                "master": self.master,
                "heap": HEAP,
                "shuffle_partitions": os.environ["SPARK_SHUFFLE_PARTITIONS"],
                "spark": self.spark.version,
                "python": platform.python_version(),
                "probe_ref_s": PROBE_REF_S,
                "measure_s": self.measure_s,
            },
            "setup": self.setup,
            "passes": self.passes,
        }
        if self.args.trace:
            from layers import layer_metrics
            from spans import per_layer_unit

            # marks a traced pass whose reconciliation fails as failed
            values, report["trace"] = layer_metrics(self.w, self.tracer, self.passes, self.cores)
            failed = sum(not p["ok"] for p in self.passes)
            values["run.failed_frac"] = failed / len(self.passes)
            metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in values.items()}
        else:
            failed = sum(not p["ok"] for p in self.passes)
            metrics = {
                k: {"value": v, "unit": END_TO_END[k]} for k, v in self.end_to_end().items()
            }
        report["metrics"] = metrics
        reports = os.path.join(self.run_dir, "reports")
        os.makedirs(reports, exist_ok=True)
        path = os.path.join(
            reports,
            f"{self.w.name}-seed{self.args.seed}-trace{self.args.trace}-{os.getpid()}.json",
        )
        with open(path, "w") as fh:
            json.dump(report, fh, indent=1)
        print(json.dumps({"context": report["context"], "report": os.path.relpath(path, ROOT)}))
        return {
            "correct": failed == 0,
            "attempted": len(self.passes),
            "failed": failed,
            "metrics": metrics,
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rdf_to_text_spark")):
        print(f"no rdf_to_text_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_run")
    t = [time.perf_counter()]
    bench = Bench(args, WORKLOADS[args.workload], cores, run_dir, t[0])
    set_environment(bench.work, cores)
    try:
        bench.set_up()
        t.append(time.perf_counter())
        bench.measure()
        t.append(time.perf_counter())
        result = bench.result()
        t.append(time.perf_counter())
    finally:
        bench.close()
        t.append(time.perf_counter())
    print("phases", [round(b - a, 2) for a, b in zip(t, t[1:])], file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
