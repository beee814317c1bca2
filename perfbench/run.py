"""coords-spark benchmark: one workload per process, one Spark session.

    python3 perfbench/run.py --workload point_chunking --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
The line before it ("context") records loadavg, CPU seconds of the
process tree, sample counts and tails. Exits non-zero, printing no
result, when the engine sources are missing or a run cannot complete.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _pin_environment(work: str, settings: dict) -> None:
    """Execution settings come from settings.json only: the caller's
    SPARK_GRAFT_* and COORDS_* are dropped, the engine's session factory
    gets the pinned values, and Spark's scratch space stays in `work`."""
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "COORDS_", "PYSPARK_", "SPARK_")):
            del os.environ[k]
    ex = settings["execution"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_SPECULATION": ex["speculation"],
            "SPARK_GRAFT_DRIVER_MEM": ex["driver_memory"],
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options -Djava.io.tmpdir={tmp} "
                f"--conf spark.local.dir={tmp} --conf spark.ui.showConsoleProgress=false "
                "pyspark-shell"
            ),
        }
    )
    import tempfile

    tempfile.tempdir = tmp


def _session(settings: dict):
    from coords_spark.session import get_spark

    ex = settings["execution"]
    spark = get_spark(
        master=ex["master"], app_name="coords-perfbench",
        shuffle_partitions=ex["shuffle_partitions"],
    )
    spark.sparkContext.setLogLevel("ERROR")
    conf = spark.sparkContext.getConf()
    got = {
        "spark.master": conf.get("spark.master"),
        "spark.speculation": conf.get("spark.speculation"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": conf.get("spark.driver.memory"),
    }
    want = {
        "spark.master": ex["master"],
        "spark.speculation": ex["speculation"],
        "spark.sql.shuffle.partitions": str(ex["shuffle_partitions"]),
        "spark.driver.memory": ex["driver_memory"],
    }
    if got != want:
        raise RuntimeError(f"session settings not pinned: {got} != {want}")
    return spark


# -- process tree accounting -------------------------------------------------


def _tree_pids(root_pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class TreeCpu:
    """CPU seconds of this process and every descendant, reaped children
    included (Python workers are forked and reaped by the PySpark daemon,
    so their time lands in its cutime/cstime), less the JVM's JIT compiler
    threads. Those compile asynchronously, for the whole short life of the
    JVM, and took 20-40 s of CPU per run, more than the executor tasks;
    which operation their bursts land in is chance. Their CPU is kept per
    thread id, so a compiler thread that exits stays subtracted."""

    JIT = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15 chars

    def __init__(self):
        self.tick = os.sysconf("SC_CLK_TCK")
        self.jit: dict[tuple[int, str], int] = {}

    def __call__(self) -> float:
        total = 0
        for p in _tree_pids(os.getpid()):
            try:
                comm, fields = _stat(f"/proc/{p}/stat")
                total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
                if comm == "java":
                    for t in os.listdir(f"/proc/{p}/task"):
                        tcomm, tf = _stat(f"/proc/{p}/task/{t}/stat")
                        if tcomm.startswith(self.JIT):
                            self.jit[(p, t)] = int(tf[11]) + int(tf[12])
            except OSError:
                continue
        return (total - sum(self.jit.values())) / self.tick

    def jit_s(self) -> float:
        return sum(self.jit.values()) / self.tick


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, the fields after it) of a /proc stat file."""
    with open(path) as f:
        st = f.read()
    return st[st.index("(") + 1: st.rindex(")")], st.rsplit(")", 1)[1].split()


def tree_peak_rss_mb() -> tuple[float, list]:
    """Summed peak resident set (VmHWM) over the live process tree, and
    (name, MB) per process."""
    each = []
    for p in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in st:
            each.append((st["Name"].strip(), int(st["VmHWM"].split()[0]) / 1024.0))
    return sum(mb for _, mb in each), each


def cpu_ticks() -> list[int]:
    """The machine-wide `cpu` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor stole between two
    cpu_ticks() readings."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d[:8]), 1)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this run started (JVM, PySpark daemon, Python workers) is gone."""
    import signal

    from pyspark import SparkContext

    started = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- main --------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", default=None, help="write the traced run's spans (JSONL) here")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "coords_spark", "__init__.py")):
        print("perfbench: no coords_spark/ sources beside perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work, settings)
    load0, ticks0 = loadavg(), cpu_ticks()
    spark = None
    try:
        cpu = TreeCpu()
        t0 = time.perf_counter()
        spark = _session(settings)
        session_s = time.perf_counter() - t0
        ctx = workloads.Context(
            spark=spark,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            settings=settings["workloads"][args.workload],
            session_s=session_s,
            t_start=T_START,
            cpu_s=cpu,
            ticks=cpu_ticks,
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = tree_peak_rss_mb()
        res.context.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "loadavg_start": load0,
                "loadavg_end": loadavg(),
                "steal_share": steal_share(ticks0, cpu_ticks()),
                "peak_rss_mb": rss[0],
                "peak_rss_by_process": rss[1],
                "jit_cpu_s": cpu.jit_s(),
                "settings": settings["execution"],
            }
        )
        res.context["e2e_report"] |= {
            "peak_rss_mb": (rss[0], "MB"),
            "error_rate": (res.failed / max(res.attempted, 1), "ratio"),
        }
        res.context["e2e_report"] = {
            k: {"value": v, "unit": u} for k, (v, u) in res.context["e2e_report"].items()
        }
        if not args.trace:
            res.metrics["peak_rss_mb"] = (rss[0], "MB")
        if ctx.tracer is not None and args.spans:
            ctx.tracer.dump(args.spans)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"context": res.context}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
