"""kgner pages-to-triples benchmark.

    python3 perfbench/run.py --workload full_path --seed 1 --seconds 20 --trace 0

Runs one workload (`ingest`, `full_path`, `dedup`, or `all` for the three in
one session) on local[$SPARK_GRAFT_CPUS or nproc] in a closed loop: one
driver process, the next iteration starts when the previous one is done.
Inputs are generated from --seed; every measured iteration runs in a fresh
workdir that is deleted afterwards, and its outputs are checked.

Prints a detail line (host facts, quartiles, every check, io per table)
and, as the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. Exits 1 when a check fails, 2 when kgner cannot be imported.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
END_TO_END = {
    "wall_s": "s",
    "pages_per_s": "pages/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def quartiles(values: list[float]) -> dict:
    vals = sorted(values)
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


def cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory_mb() -> int:
    """A quarter of the host's memory, at most 3 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(3072, total_kb // 1024 // 4)


def start_session(work: str, n_cores: int, trace: bool):
    """A SparkSession sized to the host whose files all stay under `work`."""
    from kgner.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # inherited by the JVM and, through it, by the Python workers
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    heap = driver_memory_mb()
    conf = {
        "spark.driver.memory": f"{heap}m",
        # fixed heap and young generation: resident memory then follows what
        # the program keeps alive, not GC resizing decisions. No hsperfdata
        # files: the JVM would write them to /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap}m -Xmn{heap // 3}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{n_cores}]",
        shuffle_partitions=2 * n_cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Make descendants that lose their parent (Spark's Python workers once
    the JVM has exited) children of this process, so stop_session can wait
    for them instead of losing them to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child process ended."""
    from pyspark import SparkContext

    from perfbench.host import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        _reap()
        rest = process_tree()[1:]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


class Runner:
    """Runs one workload's setup, warm-up and measured loop."""

    def __init__(self, spark, name: str, seed: int, work: str, n_cores: int):
        from perfbench.workloads import WORKLOADS

        self.spark = spark
        self.work = work
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs, exist_ok=True)
        self.wl = WORKLOADS[name](spark, seed, n_cores, inputs)
        self.runs = 0
        self.attempted = 0
        self.failed = 0

    def setup(self) -> list[float]:
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.monotonic()
            self.wl.build()
            times.append(time.monotonic() - t0)
        return times

    def iteration(self, tracer, counted: bool = True) -> dict:
        """One iteration in a fresh workdir: timing, CPU and RSS of the
        process tree, the check, and the bytes each table wrote."""
        from perfbench import checks
        from perfbench.host import RssSampler, tree_cpu_s
        from perfbench.workloads import table_files

        self.runs += 1
        run_dir = os.path.join(self.work, f"run{self.runs}")
        rec = {"traced": tracer.enabled}
        if counted:
            self.attempted += 1
        try:
            cpu0 = tree_cpu_s()
            with RssSampler() as rss:
                t0 = time.monotonic()
                self.wl.iterate(tracer, run_dir)
                rec["wall_s"] = time.monotonic() - t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            rec["peak_rss_mb"] = rss.peak_mb
            rec["peak_rss_by_process"] = rss.peak_by_name
            rec["io"] = table_files(run_dir)
            rec["check"] = self.wl.check(run_dir)
            rec["misses"] = checks.misses(rec["check"])
        except Exception:
            # the loop goes on to report the failure; keep the traceback
            rec["misses"] = ["raised"]
            traceback.print_exc()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if rec["misses"]:
            print(f"check failed: {rec['misses']} {rec.get('check')}", file=sys.stderr)
            if counted:
                self.failed += 1
        return rec


def run_workload(spark, name: str, args, work: str, n_cores: int) -> dict:
    from perfbench.trace import Tracer

    runner = Runner(spark, name, args.seed, work, n_cores)
    setup = runner.setup()
    plain = Tracer(spark, enabled=False)
    t0 = time.monotonic()
    # discarded: JIT, codegen and Python-worker fork make it slower
    if runner.iteration(plain, counted=False)["misses"]:
        runner.attempted += 1
        runner.failed += 1
    warmup_s = time.monotonic() - t0
    traced = Tracer(spark, enabled=True, name=name) if args.trace else None
    recs = []
    turn = [plain] if traced is None else [plain, traced]
    deadline = time.monotonic() + args.seconds
    while True:
        t_turn = time.monotonic()
        for tracer in turn:
            tracer.iteration += 1
            recs.append(runner.iteration(tracer))
        # a traced run flips the order each turn, so the JVM still warming
        # up does not favour one side of trace.overhead_s
        turn.reverse()
        # at least one turn; no turn that would end past the deadline
        now = time.monotonic()
        if runner.failed or now + (now - t_turn) > deadline:
            break
    runner.wl.release()
    return {
        "name": name, "runner": runner, "setup": setup, "warmup_s": warmup_s,
        "recs": recs, "tracer": traced,
    }


def end_to_end(res: dict) -> tuple[dict, dict]:
    """(contract metrics, detail) of one workload's untraced iterations."""
    wl = res["runner"].wl
    ok = [r for r in res["recs"] if not r["traced"] and not r["misses"]]
    if not ok:
        return {}, {}
    wall = quartiles([r["wall_s"] for r in ok])
    metrics = {
        "wall_s": wall["median"],
        "pages_per_s": wl.items / wall["median"],
        "cpu_s": statistics.median(r["cpu_s"] for r in ok),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in ok),
        "setup_s": statistics.median(res["setup"]),
    }
    last = ok[-1]
    detail = {
        "wall_s": wall,
        "iteration_wall_s": [r["wall_s"] for r in ok],
        "iteration_cpu_s": [r["cpu_s"] for r in ok],
        "setup_s": quartiles(res["setup"]),
        "warmup_s": res["warmup_s"],
        "items": wl.items,
        "item_unit": wl.unit,
        "checks": last["check"],
        "peak_rss_by_process_mb": last["peak_rss_by_process"],
        "io_last": {t: {"bytes": b, "files": f} for t, (b, f) in last["io"].items()},
    }
    if "triples" in last["check"]:
        detail["triples_per_s"] = last["check"]["triples"] / wall["median"]
    return metrics, detail


def per_layer(res: dict, log_summary: dict) -> tuple[dict, dict]:
    """Per-layer metrics: medians over the traced iterations."""
    from perfbench.trace import LAYER_METRICS, LAYERS, STAGES

    recs = res["recs"]
    traced = [r for r in recs if r["traced"] and not r["misses"]]
    plain = [r for r in recs if not r["traced"] and not r["misses"]]
    tracer = res["tracer"]
    spans = tracer.spans
    iters = sorted({s["iteration"] for s in spans})
    out: dict[str, float] = {}

    def med(values):
        return statistics.median(values) if values else 0.0

    for layer in LAYERS:
        per_iter = {m: [] for m, _, _ in LAYER_METRICS}
        for it in iters:
            mine = [s for s in spans if s["iteration"] == it and s["layer"] == layer]
            log = log_summary.get(tracer.tag(it, layer), {})
            per_iter["wall_s"].append(sum(s["self_s"] for s in mine))
            per_iter["rows_out"].append(sum(s["rows"] for s in mine))
            for m in ("cpu_s", "python_s", "arrow_bytes", "shuffle_bytes",
                      "spill_bytes", "gc_s"):
                per_iter[m].append(log.get(m, 0.0))
            per_iter["task_skew"].append(_skew(log.get("task_ms", {})))
        for m, values in per_iter.items():
            out[f"{layer}.{m}"] = med(values)

    def log_sum(layer: str, key: str) -> float:
        return med([log_summary.get(tracer.tag(it, layer), {}).get(key, 0.0) for it in iters])

    results = out["retrieval.rows_out"]
    out["retrieval.pairs_scored_per_result"] = (
        log_sum("retrieval", "scored_pairs") / results if results else 0.0
    )
    cand = log_sum("dedup", "candidate_rows")
    out["dedup.verify_yield"] = log_sum("dedup", "verified_rows") / cand if cand else 0.0
    out["inference.tokens"] = float(
        med([r["check"].get("tokens_tagged", 0) for r in traced])
    )
    # bytes and files as the untraced pipeline writes them
    last_io = plain[-1]["io"] if plain else {}
    out["io.bytes_written"] = float(sum(b for b, _ in last_io.values()))
    out["io.files_written"] = float(sum(f for _, f in last_io.values()))
    for stage in STAGES:
        b, f = last_io.get(stage, (0, 0))
        out[f"io.bytes_written.{stage}"] = float(b)
        out[f"io.files_written.{stage}"] = float(f)
    traced_wall = med([r["wall_s"] for r in traced])
    out["trace.overhead_s"] = traced_wall - med([r["wall_s"] for r in plain])
    shares = {
        layer: out[f"{layer}.wall_s"] / traced_wall
        for layer in LAYERS if traced_wall and out[f"{layer}.wall_s"]
    }
    counts = {k: log_sum(layer, k) for layer, k in (
        ("retrieval", "scored_pairs"), ("dedup", "candidate_rows"), ("dedup", "verified_rows"))}
    return out, {"traced_wall_s": traced_wall, "layer_share_of_wall": shares, **counts}


def _skew(task_ms: dict) -> float:
    """max/median task time of the layer's busiest stage."""
    if not task_ms:
        return 0.0
    times = max(task_ms.values(), key=sum)
    mid = statistics.median(times)
    return max(times) / mid if mid else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "full_path", "dedup", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import kgner  # noqa: F401
    except ImportError as exc:
        print(f"cannot import kgner from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.host import cpu_times, host_facts, steal_share
    from perfbench.trace import read_event_log

    become_subreaper()
    names = ["ingest", "full_path", "dedup"] if args.workload == "all" else [args.workload]
    n_cores = cores()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        facts = host_facts(n_cores)
        stat0 = cpu_times()
        t0 = time.monotonic()
        spark = start_session(work, n_cores, bool(args.trace))
        session_start_s = time.monotonic() - t0
        try:
            results = [run_workload(spark, n, args, work, n_cores) for n in names]
        finally:
            stop_session(spark)
        facts["cpu_steal_share"] = steal_share(stat0, cpu_times())
        facts["session_start_s"] = session_start_s
        log = read_event_log(os.path.join(work, "eventlog")) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    correct = True
    attempted = failed = 0
    metrics: dict[str, dict] = {}
    for res in results:
        runner = res["runner"]
        attempted += runner.attempted
        failed += runner.failed
        e2e, detail = end_to_end(res)
        correct = correct and runner.failed == 0 and bool(e2e)
        if args.trace:
            values, detail["layer_split"] = per_layer(res, log)
            units = _layer_units()
        else:
            values, units = e2e, END_TO_END
        prefix = f"{res['name']}." if len(results) > 1 else ""
        for k, v in values.items():
            metrics[prefix + k] = {"value": v, "unit": units[k]}
        detail.update({
            "workload": res["name"], "seed": args.seed, "trace": args.trace,
            "failed_share": runner.failed / max(runner.attempted, 1),
            "host": facts,
        })
        print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _layer_units() -> dict:
    from perfbench.trace import per_layer_spec

    return {m["name"]: m["unit"] for m in per_layer_spec()}


if __name__ == "__main__":
    sys.exit(main())
