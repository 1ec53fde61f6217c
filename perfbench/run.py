"""osmgraft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cut_tile --seed 1 --seconds 3 --trace 0

Run from the repository root.  The run generates the workload's inputs
from ``--seed`` into a scratch directory under the root, computes the
expected outputs with the repo's DuckDB oracles (in a child process,
while Spark starts), starts one Spark session on ``local[<cores>]`` through
``osmgraft.session.get_spark(honest_cores=True)``, caches the inputs
and then runs passes for ``--seconds`` (one pass at least; the first
pass of the session is the cold one).  Every pass's output is checked
against the oracle; a cpu probe runs before every pass and is recorded
next to it, with the machine's busy and stolen cpu time during the pass.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
cold pass and two warm untraced ones, then a traced pass and one more
untraced pass, and reports the per-layer metrics of the traced pass.
The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the run record (setup parts,
per-pass times and probes and, with tracing, every span).  The exit
code is 1 when any output differs from the oracle, 2 when the
repository is not there.  On every way out the run stops and reaps
each process it started (it is their child subreaper, so orphans of
the JVM come back to it).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# input size per workload: pages, OSM nodes (ways = 4x, parts = 1x),
# documents (vectors = 1/2x)
SIZES = {"cut_tile": 40000, "osm_mapper": 4000, "neighbors": 2000}
# passes that run whatever --seconds says (True = traced).  Untraced:
# the session's cold pass.  Traced: the cold pass and two warm ones,
# then the traced pass between two untraced ones, where the warm-up
# curve has flattened.
PLAIN_PATTERN = (False,)
TRACE_PATTERN = (False, False, False, True, False)
PROBE_ROWS_PER_CPU = 8_000_000
DRIVER_MEM = "3g"  # the get_spark default (24g) exceeds small hosts
YOUNG_GEN = "256m"

LAYERS = ("extract", "join", "store", "sources", "tiles", "closure",
          "dedup", "similarity")


def cpu_probe(spark, cores: int) -> float:
    """Pure-CPU codegen loop, one task per core: host load shows up as
    a longer wall time (the style of ``bench.py``'s probe)."""
    t = time.perf_counter()
    spark.range(0, PROBE_ROWS_PER_CPU * cores, 1, cores).selectExpr(
        "sum(id * 3 + 1)"
    ).collect()
    return time.perf_counter() - t


def cpu_times() -> tuple[float, float]:
    """(busy, stolen) cpu seconds of this machine so far, summed over its
    cpus, from ``/proc/stat``: busy is user + nice + system + irq +
    softirq; stolen is the time the hypervisor kept a runnable vCPU off
    the host's cpus, the host load this run cannot see otherwise."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / hz, t[7] / hz


def since(mark: tuple[float, float]) -> dict:
    busy, stolen = cpu_times()
    return {"busy_s": busy - mark[0], "steal_s": stolen - mark[1]}


def process_table() -> dict:
    """pid -> (parent pid, state letter) of every process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            table[int(d)] = (int(fields[1]), fields[0])
        except (OSError, IndexError, ValueError):
            continue
    return table


def tree_rss(root_pid: int, skip=()) -> list[int]:
    """Resident bytes of ``root_pid`` and of its descendants one and
    two or more levels down (the driver, the JVM, the Python workers),
    leaving out the processes in ``skip`` and theirs."""
    children: dict = {}
    for pid, (ppid, _) in process_table().items():
        children.setdefault(ppid, []).append(pid)
    levels, stack = [0, 0, 0], [(root_pid, 0)]
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid, depth = stack.pop()
        if pid in skip:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                levels[min(depth, 2)] += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        stack.extend((c, depth + 1) for c in children.get(pid, []))
    return levels


class RssMonitor(threading.Thread):
    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peak_levels = [0, 0, 0]
        self.skip: set = set()  # the oracle: benchmark machinery
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            levels = tree_rss(os.getpid(), self.skip)
            if sum(levels) > self.peak:
                self.peak, self.peak_levels = sum(levels), levels
            self._stop_event.wait(self.interval)

    def stop(self):
        self._stop_event.set()
        self.join()


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants: the
    Python worker daemon and its workers outlive Spark's JVM for a
    moment, and are re-parented here instead of to init, so that
    ``stop_descendants`` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_descendants(grace: float = 10.0) -> None:
    """Stop every process this run started, and reap each: SIGTERM,
    then SIGKILL after ``grace`` seconds."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    while True:
        while True:  # reap the children that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        table = process_table()
        children: dict = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        alive, stack = [], list(children.get(me, []))
        while stack:
            pid = stack.pop()
            stack.extend(children.get(pid, []))
            if table[pid][1] != "Z":
                alive.append(pid)
        if not alive and not children.get(me):
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def prepare_env(work: str, cores: int) -> None:
    """Everything the run writes stays under ``work``; workers find
    ``osmgraft`` through PYTHONPATH (a worker started from a
    subdirectory would not)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_CONF_DIR"] = os.path.join(HERE, "conf")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM would write it under /tmp.  A fixed
    # young generation: G1's adaptive sizing made the JVM's resident
    # heap, and with it peak_rss_mb, 1.0 or 1.6 GB from run to run
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path[:0] = [ROOT, HERE]


def outputs_match(out: dict, expected: dict) -> bool:
    return all(out.get(k) == v for k, v in expected.items())


def layer_metrics(spans: list[dict], counts: dict) -> dict:
    """Per-layer numbers of one traced pass."""
    from spans import self_times

    def total(key: str, names) -> float:
        return sum(s[key] for s in spans if s["name"] in names)

    def dur(*names) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    joins = ("join.spatial", "join.cover")
    root = next(s for s in spans if s["name"] == "pass")
    cand = total("python_rows", joins)
    match = counts.get("match_rows", 0)
    m = {
        "extract.s": dur("extract.entities"),
        "extract.rows_out": counts.get("entities", 0) if "extract.entities" in {
            s["name"] for s in spans} else 0,
        "join.cover_s": dur("join.cover"),
        "join.s": dur("join.spatial"),
        "join.candidate_rows": cand,
        "join.match_rows": match,
        "join.refine_yield": match / cand if cand else 0.0,
        "join.python_s": total("python_s", joins),
        "join.jobs": total("jobs", joins),
        "join.knn_s": dur("join.knn"),
        "join.knn_jobs": total("jobs", ("join.knn",)),
        "store.commit_s": dur("store.commit"),
        "store.read_s": dur("store.read"),
        "store.bytes_written": counts.get("store_bytes", 0),
        "store.bytes_per_row": (counts["store_bytes"] / counts["store_rows"]
                                if counts.get("store_rows") else 0.0),
        "sources.tile_write_s": dur("sources.tile_write"),
        "sources.tile_bytes": counts.get("tile_bytes", 0),
        "tiles.classify_s": dur("tiles.classify"),
        "tiles.explode_s": dur("tiles.explode"),
        "tiles.pyramid_rows": counts.get("pyramid_rows", 0),
        "tiles.histogram_s": dur("tiles.histogram"),
        "closure.semijoin_s": dur("closure.semijoin"),
        "closure.clip_s": dur("closure.clip"),
        "closure.fixpoint_s": dur("closure.fixpoint"),
        "closure.fixpoint_jobs": total("jobs", ("closure.fixpoint",)),
        "closure.member_filter_s": dur("closure.member_filter"),
        "dedup.simhash_s": dur("dedup.simhash"),
        "dedup.python_s": sum(s["python_s"] for s in spans if s["layer"] == "dedup"),
        "dedup.pairs_s": dur("dedup.pairs"),
        "dedup.pair_rows": counts.get("pair_rows", 0),
        "dedup.cc_s": dur("dedup.cc"),
        "dedup.cc_jobs": total("jobs", ("dedup.cc",)),
        "similarity.topk_s": dur("similarity.topk"),
        "similarity.train_s": dur("similarity.train"),
        "similarity.jobs": sum(s["jobs"] for s in spans if s["layer"] == "similarity"),
    }
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        m[f"{layer}.stages"] = sum(s["stages"] for s in mine)
        m[f"{layer}.tasks_failed"] = sum(s["tasks_failed"] for s in mine)
    m["trace.span_coverage"] = 1.0 - self_times(spans)[root["id"]] / (
        root["end"] - root["start"])
    return m


def compute_expected(name: str, work: str, seed: int, out_path: str) -> None:
    """Oracle process: write the expected outputs (or the error) and the
    seconds they took to ``out_path``."""
    from workloads import WORKLOADS, Oracle

    t = time.perf_counter()
    try:
        wl = WORKLOADS[name](work, seed, SIZES[name])
        con = Oracle(wl.sf)
        try:
            out = {"expected": wl.expected(con)}
        finally:
            con.close()
    except Exception:  # re-raised by the parent
        out = {"error": traceback.format_exc()}
    out["s"] = time.perf_counter() - t
    with open(out_path + ".part", "wb") as f:
        pickle.dump(out, f)
    os.replace(out_path + ".part", out_path)


def run(args, work: str, monitor: RssMonitor) -> tuple[dict, dict]:
    from osmgraft.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS, Pass

    cores = len(os.sched_getaffinity(0))
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace, "cores": cores}
    wl = WORKLOADS[args.workload](work, args.seed, SIZES[args.workload])
    cpu0 = cpu_times()
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    # the DuckDB oracle needs no Spark: it runs while the session starts,
    # in a process of its own, so that its memory stays out of peak_rss_mb
    oracle_path = os.path.join(work, "oracle.pkl")
    oracle_proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--oracle", oracle_path],
        stdin=subprocess.DEVNULL)
    monitor.skip.add(oracle_proc.pid)
    try:
        t = time.perf_counter()
        spark = get_spark(app="perfbench", cores=cores, honest_cores=True)
        session_s = time.perf_counter() - t
    except BaseException:
        oracle_proc.kill()
        oracle_proc.wait()
        raise
    try:
        t = time.perf_counter()
        n_items = wl.setup(spark)
        inputs_s = time.perf_counter() - t

        oracle_proc.wait()
        if not os.path.isfile(oracle_path):
            raise RuntimeError(f"oracle exited with code {oracle_proc.returncode}")
        with open(oracle_path, "rb") as f:
            oracle = pickle.load(f)
        if "error" in oracle:
            raise RuntimeError("oracle failed:\n" + oracle["error"])
        expected = oracle["expected"]
        gc = spark.sparkContext._jvm.System.gc
        off, on = Tracer(spark, False), Tracer(spark, True)

        setup_s = gen_s + session_s + inputs_s
        setup_cpu = since(cpu0)
        passes = []
        pattern = TRACE_PATTERN if args.trace else PLAIN_PATTERN
        start = time.perf_counter()
        while len(passes) < len(pattern) or time.perf_counter() - start < args.seconds:
            i = len(passes)
            traced = i < len(pattern) and pattern[i]
            tracer = on if traced else off
            probe = cpu_probe(spark, cores)
            p = Pass(tracer, i)
            mark = cpu_times()
            tp = time.perf_counter()
            ok = False
            try:
                with tracer.span("pass", i):
                    out = wl.run(p)
                dt = time.perf_counter() - tp
                ok = outputs_match(out, expected)
                if not ok:
                    print(f"pass {i}: output differs from the oracle: {out} "
                          f"expected {expected}", file=sys.stderr)
            except Exception:  # a failed pass counts toward fail_ratio
                dt = time.perf_counter() - tp
                traceback.print_exc()
            cpu = since(mark)
            tracer.collect()
            gc()
            passes.append({"pass": i, "traced": traced, "pass_s": dt,
                           "probe_s": probe, **cpu, "ok": ok, "counts": p.counts})
        correct = all(p["ok"] for p in passes)
    finally:
        if oracle_proc.poll() is None:
            oracle_proc.kill()
        oracle_proc.wait()
        stop(spark)

    record.update(
        n_items=n_items, item=wl.item, gen_s=gen_s, session_s=session_s,
        inputs_s=inputs_s, oracle_s=oracle["s"],
        setup_s=setup_s, setup_busy_s=setup_cpu["busy_s"],
        setup_steal_s=setup_cpu["steal_s"],
        expected={k: str(v) for k, v in expected.items()},
        passes=[{k: v for k, v in p.items() if k != "counts"} for p in passes],
    )
    failed = sum(not p["ok"] for p in passes)
    if not args.trace:
        ok_plain = [p["pass_s"] for p in passes if p["ok"]] or [p["pass_s"] for p in passes]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": None, "unit": "MB"},  # filled by main
            "items_per_s": {"value": n_items / statistics.median(ok_plain),
                            "unit": "1/s"},
        }
    else:
        traced = [p for p in passes if p["traced"]]
        per_pass = []
        for p in traced:
            spans = [s for s in on.spans if s["pass"] == p["pass"]]
            per_pass.append(layer_metrics(spans, p["counts"]))
        metrics = {
            k: {"value": statistics.median(pp[k] for pp in per_pass),
                "unit": unit_of(k)}
            for k in per_pass[0]
        }
        # each traced pass against the mean of the untraced passes just
        # before and after it, which cancels a linear warm-up trend
        metrics["trace.overhead_s"] = {
            "value": statistics.median(
                p["pass_s"] - (passes[p["pass"] - 1]["pass_s"]
                               + passes[p["pass"] + 1]["pass_s"]) / 2
                for p in traced),
            "unit": "s"}
        metrics["fail_ratio"] = {"value": failed / len(passes), "unit": "ratio"}
        record["spans"] = on.spans
    result = {"correct": bool(correct), "attempted": len(passes),
              "failed": failed, "metrics": metrics}
    return result, record


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit: it leaves when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    if name.endswith(("yield", "coverage")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--oracle", help=argparse.SUPPRESS)  # the oracle process
    args = ap.parse_args(argv)
    if args.oracle:
        sys.path[:0] = [ROOT, HERE]
        compute_expected(args.workload, os.path.dirname(args.oracle),
                         args.seed, args.oracle)
        return 0

    if not os.path.isfile(os.path.join(ROOT, "osmgraft", "__init__.py")):
        print(f"perfbench: no osmgraft package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # a run stopped from outside still stops Spark, every process it
    # started and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_env(work, len(os.sched_getaffinity(0)))
    monitor = RssMonitor()
    monitor.start()
    try:
        result, record = run(args, work, monitor)
    finally:
        monitor.stop()
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if "peak_rss_mb" in result["metrics"]:
        result["metrics"]["peak_rss_mb"]["value"] = monitor.peak / 2**20
    record["peak_rss_mb"] = monitor.peak / 2**20
    record["peak_rss_mb_parts"] = dict(zip(
        ("driver", "jvm", "workers"), (b / 2**20 for b in monitor.peak_levels)))
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
