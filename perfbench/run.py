"""Linkage benchmark: one workload per run, or all of them.

    python3 perfbench/run.py --workload files_link --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run it from the root of a checkout: it links the package found there, on
``local[<cores>]`` with ``get_spark()`` defaults, and writes only under
``.perfbench_work/`` (scratch, removed at exit) and ``perfbench_traces/``.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The exit code is
nonzero when an output check failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
# one scratch directory per process, so two runs in one checkout cannot
# remove each other's files
WORK = ROOT / ".perfbench_work" / str(os.getpid())
TRACES = ROOT / "perfbench_traces"
CALL_TIMEOUT_S = 120      # a call still running after this is cancelled
RUN_BUDGET_S = 150        # no call runs past this age of the run, so it ends within 180 s
RUN_TIMEOUT_S = 175       # per workload, when running them all


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ host probes --

def _stat_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(j0: list[int], j1: list[int]) -> float:
    d = [b - a for a, b in zip(j0, j1)]
    return 100.0 * d[7] / (sum(d) or 1)


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of a process and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/statm") as f:
                rss[int(entry)] = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Samples the RSS of the driver JVM and its Python workers while on."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            time.sleep(self.interval)

    def __enter__(self):
        self._on.set()
        return self

    def __exit__(self, *exc):
        self.peak = max(self.peak, _tree_rss_bytes(self.pid))
        self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -------------------------------------------------------------- one run --

def start_spark(cpus: int, trace: bool):
    from automatedreclin_spark import get_spark
    extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}"}
    if trace:
        (WORK / "events").mkdir(parents=True, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": (WORK / "events").as_uri(),
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false"})
    return get_spark(cpus=cpus, extra_conf=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def load_inputs(spark, frames: dict) -> dict:
    """Spark frames of the program's inputs, cached and materialized."""
    dfs = {k: spark.createDataFrame(v).cache() for k, v in frames.items()
           if k != "truth"}
    for df in dfs.values():
        df.count()
    return dfs


def isolate(spark, dfs: dict, workdir: Path) -> None:
    """Empty Spark's cache and persisted RDDs, start a fresh checkpoint
    directory, and cache the inputs again, so no call reuses another's work."""
    from workloads import fresh_dir
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    fresh_dir(workdir)
    for df in dfs.values():
        df.cache().count()


def timed_call(fn, spark, deadline: float):
    """Run ``fn()`` under a watchdog that cancels its Spark jobs after
    CALL_TIMEOUT_S or at ``deadline`` (time.monotonic), whichever is first.
    Returns (result or None, seconds, error text or None)."""
    timeout = max(1.0, min(CALL_TIMEOUT_S, deadline - time.monotonic()))
    timer = threading.Timer(timeout, spark.sparkContext.cancelAllJobs)
    t0 = time.perf_counter()
    timer.start()
    try:
        out = fn()
        return out, time.perf_counter() - t0, None
    except Exception:  # a failed call is counted, and the run goes on
        return None, time.perf_counter() - t0, traceback.format_exc(limit=3)
    finally:
        timer.cancel()


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 deadline: float) -> tuple[dict, bool]:
    import workloads
    from tracer import (Tracer, attach_event_log, layer_metrics,
                        read_event_logs)

    wl = workloads.WORKLOADS[name]
    cpus = cpu_count()
    workdir = WORK / "call"
    jiffies0 = _stat_jiffies()
    problems: list[str] = []
    attempted = failed = 0
    hashes: set[str] = set()
    truth = None

    def judge(out, err) -> bool:
        """Count one call and check its output; True if it failed."""
        nonlocal attempted, failed
        attempted += 1
        found = [err] if err else []
        if out is not None:
            found += wl.checks(frames, out) + out.extra.get("problems", [])
            hashes.add(workloads.pairs_sha256(out.pairs))
            if len(hashes) > 1:
                found.append("sorted-pair sha256 differs between calls of one seed")
        if found:
            failed += 1
            problems.extend(found)
        return bool(found)

    t0 = time.perf_counter()
    spark = start_spark(cpus, trace)
    session_s = time.perf_counter() - t0
    rss = RssSampler(spark.sparkContext._gateway.proc.pid)
    try:
        t = time.perf_counter()
        frames = wl.generate(seed)
        dfs = load_inputs(spark, frames)
        input_s = time.perf_counter() - t
        truth = workloads.pair_set(frames["truth"])

        # warm-up: one cold, untimed call on the same input, so the timed
        # calls find the JVM's generated code and the Python workers warm.
        # Its output is checked like every other call's.
        t = time.perf_counter()
        isolate(spark, dfs, workdir)
        out, _, err = timed_call(lambda: wl.call(spark, dfs, workdir),
                                 spark, deadline)
        judge(out, err)
        warm_s = time.perf_counter() - t
        setup_s = session_s + input_s + warm_s

        if trace:
            # The traced call comes first: the call after the warm-up is still
            # warming the JIT, so tracing.overhead_frac errs on the high side.
            tracer = Tracer(spark.sparkContext)
            isolate(spark, dfs, workdir)
            traced, traced_s, err = timed_call(
                lambda: workloads.traced_call(wl, spark, dfs, frames, workdir,
                                              tracer, cpus), spark, deadline)
            out, m = traced or (None, {})
            judge(out, err)

        walls, f1s, pairs = [], [], []
        start = time.perf_counter()
        # keep calling while another call of median length fits in the window
        while not walls or (not trace and time.perf_counter() - start
                            + statistics.median(walls) <= seconds):
            isolate(spark, dfs, workdir)
            with rss:
                out, wall, err = timed_call(lambda: wl.call(spark, dfs, workdir),
                                            spark, deadline)
            walls.append(wall)
            last_failed = judge(out, err)
            if out is not None:
                f1s.append(workloads.pairwise_f1(out.pairs, truth))
                pairs.append(out.n_candidates)

        # the deep checks launch Spark jobs: once per run, on the last call,
        # whose checkpoint directory is still in place
        t = time.perf_counter()
        deep = wl.deep_checks(spark, dfs, out, workdir) if out is not None else []
        deep_s = time.perf_counter() - t
        if deep:
            problems.extend(deep)
            failed += not last_failed

        if not trace:
            wall_s = statistics.median(walls)
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall_s, "s"),
                "pairs_per_s": ((statistics.median(pairs) if pairs else 0) / wall_s, "1/s"),
                "pairwise_f1": (statistics.median(f1s) if f1s else 0.0, "ratio"),
            }
        else:
            call = next(s for s in tracer.spans if s.name == f"{name}.call")
            m["tracing.overhead_frac"] = call.seconds / walls[0] - 1.0
            m["peak_rss_mb"] = rss.peak / 1e6
            from bench import kernel_probe
            m["host.kernel_probe_pps"] = kernel_probe(cpus, samples=1).get("pairs_per_sec", 0.0)
    finally:
        rss.close()
        stop_spark(spark)

    if trace:
        job_tags, job_tasks = read_event_logs(WORK / "events")
        attach_event_log(tracer, job_tags, job_tasks)
        m.update(layer_metrics(tracer, workloads.LAYERS))
        m["host.steal_pct"] = steal_pct(jiffies0, _stat_jiffies())
        sel_spans = [s for s in tracer.spans if s.name == "selection.replay_select"]
        m["selection.jobs_per_call"] = sum(len(s.jobs) for s in sel_spans)
        TRACES.mkdir(exist_ok=True)
        (TRACES / f"{name}-seed{seed}.json").write_text(json.dumps(
            {"workload": name, "seed": seed, "traced_s": traced_s,
             "spans": tracer.tree(), "metrics": m}, indent=1))
        units = per_layer_units()
        metrics = {k: (float(m.get(k, 0.0)), u) for k, u in units.items()}

    if hash_differs_across_runs(name, seed, hashes, problems):
        failed = max(failed, 1)
    print(f"[{name}] session {session_s:.1f} s, input set-up {input_s:.2f} s, "
          f"warm-up call {warm_s:.1f} s, "
          f"deep checks {deep_s:.1f} s, timed calls "
          f"{', '.join(f'{x:.2f}' for x in walls)} s, peak RSS {rss.peak / 1e6:.0f} MB",
          file=sys.stderr)
    for p in problems:
        print(f"CHECK FAILED [{name}]: {p.strip()}", file=sys.stderr)
    print(f"[{name}] sorted-pair sha256: {', '.join(sorted(hashes))}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, failed == 0


def hash_differs_across_runs(name: str, seed: int, hashes: set[str],
                             problems: list[str]) -> bool:
    """Compare this run's sorted-pair sha256 with the one an earlier run of
    the same workload and seed left in perfbench_traces/, or leave it there
    for later runs. True, with the problem added, if they differ."""
    if len(hashes) != 1:
        return False      # no output, or already failed within the run
    (digest,) = hashes
    path = TRACES / f"{name}-seed{seed}.sha256"
    if path.is_file():
        earlier = path.read_text().strip()
        if earlier != digest:
            problems.append(f"sorted-pair sha256 {digest} differs from {earlier}, "
                            f"left by an earlier run of seed {seed} in {path}")
            return True
        return False
    TRACES.mkdir(exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(digest + "\n")
    tmp.replace(path)
    return False


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def per_layer_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec()["per_layer"]}


# -------------------------------------------------------------- all runs --

def run_all(args) -> int:
    """Each workload BENCHMARK.json lists, in its own process with a timeout;
    a failed or timed-out workload is counted and the others still run."""
    ok, total, failures, merged = True, 0, 0, {}
    for name in (w["name"] for w in spec()["workloads"]):
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            stdout, _ = proc.communicate()
        lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
        if proc.returncode is None or not lines:
            print(f"{name}: no result (exit {proc.returncode})")
            ok, total, failures = False, total + 1, failures + 1
            continue
        res = json.loads(lines[-1])
        ok &= res["correct"] and proc.returncode == 0
        total += res["attempted"]
        failures += res["failed"]
        for k, v in res["metrics"].items():
            print(f"{name}  {k} = {v['value']:.6g} {v['unit']}")
            merged[f"{name}.{k}"] = v
    print(f"failed_frac = {failures}/{total}")
    print(json.dumps({"correct": ok, "attempted": max(total, 1), "failed": failures,
                      "metrics": merged}))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_BUDGET_S

    if not (ROOT / "automatedreclin_spark" / "__init__.py").is_file():
        print("run from the root of a checkout: automatedreclin_spark/ not found",
              file=sys.stderr)
        return 2
    # the package and bench.py come from this checkout, not from site-packages
    sys.path[:0] = [str(HERE), str(ROOT)]
    for k in ("tmp", "local"):
        (WORK / k).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")

    import workloads
    if args.workload != "all" and args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of "
                 f"{', '.join(workloads.WORKLOADS)} or all")
    try:
        if args.workload == "all":
            return run_all(args)
        os.environ.update(workloads.WORKLOADS[args.workload].env)
        result, ok = run_workload(args.workload, args.seed, args.seconds,
                                  bool(args.trace), deadline)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            WORK.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
