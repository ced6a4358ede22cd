"""Near-dup benchmark: one command, one seed, every workload.

    python3 neardup_bench/run.py --workload <name|all> --seed N \
        [--seconds S] [--trace 0|1]

Run from the root of a checkout.  Each workload runs in a fresh Python
process (``worker.py``) at ``local[<usable cores / 2>]``; this process
samples the peak memory (summed PSS) of that process tree (driver,
JVM, Python workers) from ``/proc``, stops every process of the tree when
the run ends, prints a table of the metrics by name and unit, and
prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are BENCHMARK.json's end-to-end metrics, with ``--trace 1``
its per-layer metrics.  Everything the run writes stays under
``.bench_work/`` in the checkout and is deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170          # the worker is killed after this


def fail(msg: str) -> int:
    print(f"neardup_bench: {msg}", file=sys.stderr)
    return 2


def _proc_table() -> dict:
    """pid → (ppid, start time) of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(fields[1]), int(fields[19]))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (forked Python workers) are
    split between the processes that map them, so a sum over the tree
    counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeWatch:
    """Samples the summed PSS of a process and its descendants until the
    file ``until`` exists, and remembers every descendant it saw so they
    can all be stopped."""

    def __init__(self, pid: int, until: str, period: float = 0.5):
        self.pid = pid
        self.until = until
        self.period = period
        self.seen: dict[int, int] = {}     # pid → start time
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _tree(self) -> list[int]:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for p, (pp, _) in table.items():
            kids.setdefault(pp, []).append(p)
        todo, tree = [self.pid], []
        while todo:
            p = todo.pop()
            if p in table:
                tree.append(p)
                self.seen.setdefault(p, table[p][1])
                todo.extend(kids.get(p, []))
        return tree

    def _run(self):
        while not self._stop.is_set():
            tree = self._tree()
            if not os.path.exists(self.until):
                self.peak = max(self.peak, sum(_pss_bytes(p) for p in tree))
            self._stop.wait(self.period)

    def close(self):
        self._stop.set()
        self._thread.join()

    def stop_all(self, timeout: float = 20.0):
        """SIGKILL the process group of the tree's root and every process
        seen in the tree (the PySpark daemon leaves the group); wait
        until all are gone."""
        def alive():
            table = _proc_table()
            return [p for p, st in self.seen.items()
                    if p in table and table[p][1] == st]
        try:
            os.killpg(self.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        for p in alive():
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout
        while alive() and time.time() < deadline:
            time.sleep(0.05)
        left = alive()
        if left:
            raise RuntimeError(f"processes {left} did not stop")


def run_workload(workload: str, seed: int, seconds: float,
                 trace: int) -> dict | None:
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        # python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # an Arrow task keeps a JVM task thread and a Python worker
        # busy: half the usable cores as task slots keeps the runnable
        # threads at the core count
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_DRIVER_MEM": "1g",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    out = os.path.join(work, "result.json")
    measured = os.path.join(work, "measured")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--workdir", work, "--out", out, "--measured", measured,
           "--started", str(time.time())]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    watch = TreeWatch(proc.pid, measured)
    try:
        proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"neardup_bench: {workload} exceeded {RUN_LIMIT_S}s",
              file=sys.stderr)
    finally:
        watch.close()
        watch.stop_all()
        proc.wait()
    result = None
    if proc.returncode == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
        if not trace:
            result["metrics"]["peak_rss_mb"] = watch.peak / 2**20
    shutil.rmtree(work, ignore_errors=True)
    return result


def summarize(spec: dict, workload: str, result: dict | None,
              trace: int) -> dict:
    """The contract's result object, plus a table on stdout."""
    names = spec["per_layer" if trace else "end_to_end"]
    if result is None:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    got = result["metrics"]
    missing = [m["name"] for m in names if m["name"] not in got]
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
               for m in names if m["name"] in got}
    print(f"== {workload} ({'traced' if trace else 'untraced'}) ==")
    for name, v in metrics.items():
        print(f"  {name:44s} {v['value']:>16.6g} {v['unit']}")
    info = result.get("info", {})
    if not trace:
        failed_frac = result["failed"] / max(result["attempted"], 1)
        print(f"  {'failed_frac':44s} {failed_frac:>16.6g} ratio")
        if workload == "checkpoint-resume":
            print(f"  {'resume_s (= latency_s)':44s} "
                  f"{metrics['latency_s']['value']:>16.6g} s")
    for k, v in info.items():
        print(f"  info.{k} = {v}")
    for p in result.get("problems", []):
        print(f"  FAILED CHECK: {p}")
    if missing:
        print(f"  MISSING METRICS: {missing}")
    return {
        "correct": result["failed"] == 0 and not missing,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main() -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "bloom_filters_spark",
                                       "pipeline.py")):
        return fail(f"no bloom_filters_spark package under {ROOT}; "
                    "run from a checkout of the repository")
    with open(spec_path) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all", choices=workloads + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    chosen = workloads if args.workload == "all" else [args.workload]
    summaries = {}
    for w in chosen:
        result = run_workload(w, args.seed, args.seconds, args.trace)
        summaries[w] = summarize(spec, w, result, args.trace)
    if len(chosen) == 1:
        print(json.dumps(summaries[chosen[0]]))
    else:
        for w, s in summaries.items():
            print(json.dumps({"workload": w, **s}))
        print(json.dumps({
            "correct": all(s["correct"] for s in summaries.values()),
            "attempted": sum(s["attempted"] for s in summaries.values()),
            "failed": sum(s["failed"] for s in summaries.values()),
            "metrics": {f"{w}/{k}": v for w, s in summaries.items()
                        for k, v in s["metrics"].items()},
        }))
    ok = all(s["attempted"] >= 1 and s["metrics"] for s in summaries.values())
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
