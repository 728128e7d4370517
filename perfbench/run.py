"""Benchmark entry point: run one workload for one seed and print the
result as the last stdout line.

    python3 perfbench/run.py --workload featurize_asof --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout; everything the run writes lands
under perfbench/.cache (generated inputs, reused per seed and size)
and perfbench/.work (deleted at exit).

--trace 0 runs untraced passes and reports the end-to-end metrics of
BENCHMARK.json; --trace 1 runs one untraced and one traced pass and
reports the per-layer metrics.  The line before the result is a JSON
report with host context, sample counts, per-step times and
workload-specific figures.  --smoke shrinks every input for the
benchmark's own test, and --corrupt-expected perturbs one expected
value so that the checks using it fail.
"""

from __future__ import annotations

import time

T_START = time.time()  # process start, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# ------------------------------------------------------- host context


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]), sum(int(x) for x in parts[1:])
    except (OSError, IndexError, ValueError):
        return 0, 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and its
    descendants, reaped ones included.  The kernel keeps the time a
    vCPU spent descheduled by the hypervisor (steal) out of it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / tick


def host_speed() -> float:
    """Millions of iterations per second of a fixed pure-Python loop on
    one core, the median of five 0.1 s samples: how fast this host runs
    plain code right now, recorded beside every result."""
    rates = []
    for _ in range(5):
        n, t0 = 0, time.perf_counter()
        while (dt := time.perf_counter() - t0) < 0.1:
            for i in range(2000):
                n += i & 7
            n += 1
        rates.append(n / dt / 1e6)
    return statistics.median(rates)


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the driver JVM
    and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    def run(self):
        while not self._done.wait(0.2):
            self.peak = max(self.peak, _rss_bytes(_descendants(os.getpid())))

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


# ------------------------------------------------------------ session


def start_spark(work: str, cpus: int):
    from sonar_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cpus,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            # keep every job and stage of a run for the traced summary
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _started(pid: int) -> str | None:
    """Start time of a live (not zombie) process, None otherwise; with
    the pid it identifies the process even if the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2:].split()
    return None if fields[0] == "Z" else fields[19]


def _running(procs: dict[int, str]) -> list[int]:
    return [p for p, t in procs.items() if _started(p) == t]


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    and every Python worker it started have ended."""
    from pyspark import SparkContext

    pids = {p: _started(p) for p in _descendants(os.getpid())}
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            # the JVM exits within a second once its stdin closes; the
            # waits stay short so that a rare hang in its shutdown (one
            # took 30 s) costs the run little time
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 5
    while _running(pids) and time.time() < deadline:
        time.sleep(0.2)
    for p in _running(pids):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _running(pids) and time.time() < deadline + 10:
        time.sleep(0.2)


# --------------------------------------------------------------- main


def session_layer(top: dict, cores: int) -> dict:
    return {
        "session.core_busy_ratio": top["run_s"] / max(top["wall_s"] * cores, 1e-9),
        "session.shuffle_part_empty_ratio": (
            top["empty_parts"] / top["parts"] if top["parts"] else 0.0
        ),
        "session.sched_delay_s": top["sched_delay_s"],
        "session.gc_s": top["gc_s"],
        "session.tasks_failed": top["tasks_failed"],
        "session.stages_retried": top["stages_retried"],
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--corrupt-expected", action="store_true")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    import workloads  # noqa: E402

    steal0, tot0 = _cpu_ticks()
    load = os.getloadavg()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    for d in ("tmp", "local", "store"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [x for x in [os.environ.get("PYTHONPATH")] if x]
        ),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SONAR_FEATURE_STORE_DIR=os.path.join(work, "store"),
        # the launcher JVM of spark-submit would otherwise write
        # /tmp/hsperfdata_<user> (the driver JVM gets the same flag)
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # a 1 GiB driver heap instead of the session's 8 GiB default:
        # the inputs are small, and the JVM grows a larger heap to a
        # different size each run (~40% apart in peak_rss_mb at 8 GiB,
        # ~25% at 2 GiB, ~10% at 1 GiB)
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    cpus = len(os.sched_getaffinity(0))

    spark = rss = None
    try:
        t0 = time.time()
        wl = workloads.WORKLOADS[args.workload](args.seed, args.smoke, work)
        if args.corrupt_expected:
            wl.corrupt()
        gen_s = time.time() - t0

        t0 = time.time()
        spark = start_spark(work, cpus)
        start_s = time.time() - t0
        rss = RssSampler()
        rss.start()
        session_ready = time.time()
        warm = wl.run_pass(spark, first=True)
        setup_s = (session_ready - T_START - gen_s) + sum(s.seconds for s in warm)
        phases = {"to_session_s": session_ready - T_START - gen_s,
                  "cold_pass_s": time.time() - session_ready}

        steps = list(warm)
        t0 = time.time()
        for _ in range(wl.warm_passes):
            steps += wl.run_pass(spark, first=False)
        phases["warm_passes_s"] = time.time() - t0
        report: dict = {"phases": phases}
        if args.trace == 0:
            # timed passes until the next one would likely end after
            # the window, at least one; each pass is charged the CPU
            # time its process tree used meanwhile
            passes, walls, cpu = [], [], []
            t0 = time.time()
            while not walls or time.time() + walls[-1] <= t0 + args.seconds:
                c0 = cpu_seconds()
                passes.append(wl.run_pass(spark, first=False))
                cpu.append(cpu_seconds() - c0)
                walls.append(sum(s.seconds for s in passes[-1]))
            phases["timed_s"] = time.time() - t0
            timed_steps = [s for ps in passes for s in ps]
            steps += timed_steps
            docs = wl.docs_per_pass()
            metrics = {
                "setup_s": setup_s,
                "cpu_ms_per_doc": 1000 * statistics.median(cpu) / docs,
                "peak_rss_mb": rss.stop(),
            }
            by_name: dict = {}
            for s in timed_steps:
                by_name.setdefault(s.name, []).append(s.seconds)
            report.update({
                "samples": {"passes": len(walls), "steps": len(timed_steps)},
                "pass_walls_s": walls,
                "pass_cpu_s": cpu,
                # wall-clock figures: reported, not gated (see BASELINE.md)
                "docs_per_s": docs / statistics.median(walls),
                "step_p50_s": statistics.median(
                    statistics.median(v) for v in by_name.values()
                ),
                "named": wl.named_metrics(passes),
            })
            want = spec["end_to_end"]
        else:
            from sparkstats import Tracer

            ref = wl.run_pass(spark, first=False)
            steps += ref
            ref_wall = sum(s.seconds for s in ref)
            tr = Tracer(spark)
            t0 = time.time()
            layer, top = wl.traced_pass(spark, tr)
            report["traced_pass_s"] = time.time() - t0
            report["status_read_s"] = tr.summary_s
            steps.append(workloads.Step("traced_pass", top["wall_s"], layer.pop("ok")))
            metrics = {
                **session_layer(top, cpus),
                **layer,
                "session.start_s": start_s,
                "trace.overhead_s": top["wall_s"] - ref_wall,
            }
            if hasattr(wl, "scaling"):
                spark.stop()
                spark = start_spark(work, 1)
                metrics["session.scaling_eff_1to4"] = wl.scaling(spark, ref_wall, cpus)
            rss.stop()
            report["spans"] = [
                {"name": s.name, "parent": s.parent, "run": tr.run_id,
                 "start": s.start, "end": s.end, "self_s": tr.self_time(s)}
                for s in tr.spans
            ]
            want = spec["per_layer"]
            unknown = sorted(set(metrics) - {m["name"] for m in want})
            if unknown:
                raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    finally:
        t0 = time.time()
        if rss is not None and rss.is_alive():
            rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["teardown_s"] = time.time() - t0

    steal1, tot1 = _cpu_ticks()
    speed = host_speed()
    failed = [s for s in steps if not s.ok]
    import pyarrow
    import pyspark

    report.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {
            "nproc": cpus, "loadavg_start": [round(x, 2) for x in load],
            "steal_pct": round(100.0 * (steal1 - steal0) / (tot1 - tot0), 3)
            if tot1 > tot0 else -1.0,
            "speed_mips_end": round(speed, 2),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
        },
        "gen_s": gen_s,
        "ops_failed_ratio": len(failed) / len(steps),
        "failures": [{"step": s.name, "why": s.note} for s in failed][:10],
        "steps": [[s.name, round(s.seconds, 4), s.ok] for s in steps],
    })
    print(json.dumps(report))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(steps),
        "failed": len(failed),
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in want
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
