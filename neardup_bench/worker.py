"""One run of one workload, in a fresh Python process (``run.py``
starts it, so every workload gets a JVM with its own static confs).

Untraced (``--trace 0``): set up (session, corpus, one cold reference
call), call the workload in a closed loop for ``--seconds``, then score
the reference output against both recall oracles and write the
end-to-end metrics.  Traced (``--trace 1``): the session logs
Spark events from the start; after the same loop come one traced call of
the whole pipeline and a layer-by-layer replay, each under its own job
group; writes the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from bloom_filters_spark.session import get_spark

import corpora
from eventlog import EventLog
from workloads import WORKLOADS, Tracer, sink

CALL_BUDGET_S = 150       # start no call later than this into the run
SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "BENCHMARK.json")
CHECKPOINT_STAGES = ["checkpoint.signatures", "checkpoint.pairs",
                     "checkpoint.clusters"]
TASK_TIMES = ("cpu_s", "run_s", "gc_s")   # event-log task time of a group


def session(name: str, cores: int, event_dir: str | None = None):
    conf = {}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.compress": "false",
        }
    return get_spark(f"neardup-bench-{name}", cores=cores, extra_conf=conf)


class Run:
    def __init__(self, args):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.root = args.workdir
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])   # set by run.py
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {}
        # the traced run logs events from the start, untraced calls too
        self.event_dir = (os.path.join(self.root, "eventlog")
                          if args.trace else None)

    def note(self, problems):
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def setup(self):
        t0 = time.perf_counter()
        # the corpus is generated on the driver while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            build = pool.submit(self.timed, self.w.build, self.args.seed,
                                self.root)
            self.spark = session(self.w.name, self.cores, self.event_dir)
            t_session = time.perf_counter() - t0
            self.corpus, t_corpus = build.result()
        self.reference, t_warm = self.timed(self.w.reference, self.spark,
                                            self.corpus, self.root)
        self.check_reference(self.reference)
        for _ in range(self.w.warm_calls):
            res, dt = self.timed(self.w.call, self.spark, self.corpus,
                                 self.root)
            self.check(res)
            t_warm += dt
        self.setup_s = time.perf_counter() - t0
        self.info.update(session_s=t_session, corpus_s=t_corpus,
                         warmup_s=t_warm, n_docs=self.corpus.n_docs)

    @staticmethod
    def timed(fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        return out, time.perf_counter() - t0

    def cluster_of(self, out, keys) -> dict:
        key, cluster = self.w.out_cols
        return {r[0]: r[1] for r in out.filter(F.col(key).isin(keys))
                .select(key, cluster).collect()}

    def check_reference(self, out):
        """The reference output keeps every alias and mirror copy in its
        source's cluster and has one row per input row; its digest is
        what every later call must reproduce."""
        c = self.corpus
        problems = []
        if c.same_cluster:
            cluster_of = self.cluster_of(
                out, sorted({k for p in c.same_cluster for k in p}))
            split = [p for p in c.same_cluster
                     if cluster_of.get(p[0]) != cluster_of.get(p[1])]
            if split:
                problems.append(f"{len(split)} alias/mirror urls left their "
                                f"source's cluster, e.g. {split[0]}")
        self.ref_digest = sink(out, self.w.out_cols)
        if self.ref_digest[0] != c.n_docs:
            problems.append(f"{self.ref_digest[0]} output rows for "
                            f"{c.n_docs} input rows")
        self.note(problems)

    def score_recall(self):
        """Both recall oracles, computed after the measured calls, scored
        on the reference output."""
        t0 = time.perf_counter()
        c = self.corpus
        corpora.add_oracles(self.spark, c, self.w.cfg)
        cluster_of = self.cluster_of(
            self.reference, sorted({k for p in c.planted for k in p}))
        self.recall = corpora.recall(c.reference_ok, cluster_of)
        self.recall_exact = corpora.recall(c.exact_ok, cluster_of)
        self.info.update(oracle_s=time.perf_counter() - t0,
                         planted_pairs=len(c.planted),
                         reference_pairs=len(c.reference_ok),
                         exact_pairs=len(c.exact_ok))

    def check(self, res):
        bad = [d for d in res.digests if d != self.ref_digest]
        problems = list(res.problems)
        if bad:
            problems.append(f"output digest {bad[0]} != reference "
                            f"{self.ref_digest}")
        self.note(problems)
        return res

    def loop(self) -> list:
        results = []
        t_end = time.perf_counter() + self.args.seconds
        started = self.args.started
        while (len(results) < self.w.min_calls
               or time.perf_counter() < t_end):
            if time.time() - started > CALL_BUDGET_S:
                break
            try:
                results.append(self.check(
                    self.w.call(self.spark, self.corpus, self.root)))
            except Exception:
                traceback.print_exc()
                self.note(["call raised"])
        if not results:
            raise RuntimeError("no call completed")
        return results

    def end_to_end(self, results) -> dict:
        if self.w.name == "checkpoint-resume":
            # the cold checkpointed run does the work, the resume is what
            # a crashed job waits for
            work = [r.walls["cold"] for r in results]
            wait = [r.walls[k] for r in results for k in r.walls
                    if k.startswith("resume")]
            docs_per_s = self.corpus.n_docs / statistics.median(work)
        else:
            # the batch sequence: every doc of every call over their walls
            work = wait = [r.walls["call"] for r in results]
            docs_per_s = self.corpus.n_docs * len(work) / sum(work)
        self.info.update(calls=len(results), work_walls=work,
                         latency_walls=wait)
        self.score_recall()
        return {
            "docs_per_s": docs_per_s,
            "latency_s": statistics.median(wait),
            "pair_recall": self.recall,
            "pair_recall_exact": self.recall_exact,
            "ok_frac": 1.0 - self.failed / self.attempted,
            "setup_s": self.setup_s,
        }

    def traced(self, results: list) -> dict:
        """Traced call and layer replay, each under its own job group.
        The tracing overhead compares one warm traced call with the
        median of the same call in the measured loop: a pipeline call on
        small-batches, a resume on checkpoint-resume (the loop's cold
        run is the JVM's first checkpointed run, slower than any
        later one)."""
        tr = Tracer(self.spark)
        if self.w.name == "checkpoint-resume":
            m = self.w.trace(tr, self.spark, self.corpus, self.root)
            call_groups = CHECKPOINT_STAGES
            timed_group = "checkpoint.resume"
            untraced = [r.walls[k] for r in results for k in r.walls
                        if k.startswith("resume")]
        else:
            tr.run("pipeline", lambda: self.check(
                self.w.call(self.spark, self.corpus, self.root)))
            m = self.w.trace(tr, self.spark, self.corpus, self.root)
            call_groups, timed_group = ["pipeline"], "pipeline"
            untraced = [r.walls["call"] for r in results]
        self.spark.stop()   # flushes the event log
        with open(SPEC) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        return layer_metrics(names, EventLog.from_dir(self.event_dir),
                             tr.walls, m, call_groups, timed_group,
                             statistics.median(untraced))


def layer_metrics(names: list, log: EventLog, walls: dict, counts: dict,
                  call_groups: list, timed_group: str,
                  untraced_wall: float) -> dict:
    """Every per-layer metric in ``names`` (BENCHMARK.json's list).
    ``<group>.busy_s`` is the wall of the benchmark's calls under that
    job group, ``<group>.cpu_s`` / ``.run_s`` / ``.gc_s`` the task time
    of its jobs in the event log; the rest are derived here or counted
    by the replay.  A layer the workload does not run reports 0."""
    m = {}
    for name in names:
        group, _, stat = name.rpartition(".")
        if stat == "busy_s":
            m[name] = walls.get(group, 0.0)
        elif stat in TASK_TIMES:
            m[name] = getattr(log.stats(group), stat)
    kernel = log.stats("arrow_sig.band_kernel")
    ex = log.stats("pairs.exchange")
    # the exchange replay recomputes the band kernel feeding it
    if "pairs.exchange" in walls:
        m["pairs.exchange.busy_s"] = max(
            0.0, walls["pairs.exchange"] - walls["arrow_sig.band_kernel"])
        for stat in TASK_TIMES:
            m[f"pairs.exchange.{stat}"] = max(
                0.0, getattr(ex, stat) - getattr(kernel, stat))
    m.update({
        "arrow_sig.band_kernel.python_bytes": kernel.python_bytes,
        "pairs.exchange.shuffle_write_bytes": ex.shuffle_write_bytes,
        "pairs.exchange.shuffle_read_bytes": ex.shuffle_read_bytes,
        "pairs.exchange.fetch_wait_s": ex.fetch_wait_s,
        "pairs.exchange.spill_bytes": ex.spill_bytes,
    })
    call = log.stats(call_groups)
    traced_wall = sum(walls[g] for g in call_groups)
    m.update({
        "pipeline.jobs": call.jobs,
        "pipeline.stages": call.stages,
        "pipeline.tasks": call.tasks,
        "pipeline.failed_tasks": call.failed_tasks,
        "pipeline.driver_gap_s": max(0.0, traced_wall - call.job_union_s()),
        "pipeline.traced_wall_s": walls[timed_group],
        "pipeline.untraced_wall_s": untraced_wall,
        "pipeline.trace_overhead_s": walls[timed_group] - untraced_wall,
        "executor.run_s": call.run_s,
        "executor.cpu_s": call.cpu_s,
        "executor.gc_s": call.gc_s,
        # the HLL gate is the only job that runs approx_count_distinct;
        # "prededup.call" repeats "pages.call" with the gate on
        "prededup.busy_s": log.stats(
            "prededup.call", where="approx_count_distinct").job_union_s(),
        "prededup.added_s": (walls["prededup.call"] - walls["pages.call"]
                             if "prededup.call" in walls else 0.0),
    })
    m.update(counts)
    return {name: m.get(name, 0) for name in names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--measured", required=True,
                    help="file to create when the measured calls are done")
    ap.add_argument("--started", type=float, default=time.time(),
                    help="epoch seconds the whole run started")
    args = ap.parse_args()
    run = Run(args)
    run.setup()
    results = run.loop()
    # run.py samples peak memory until here: the oracles and the traced
    # replay are benchmark work, not the program's
    open(args.measured, "w").close()
    if args.trace:
        metrics = run.traced(results)
    else:
        metrics = run.end_to_end(results)
    out = {
        "workload": run.w.name,
        "attempted": run.attempted,
        "failed": run.failed,
        "problems": run.problems,
        "metrics": metrics,
        "info": run.info,
    }
    with open(args.out, "w") as f:
        json.dump(out, f)
    # run.py kills the JVM and the Python workers once this process is
    # gone; skipping a clean Spark shutdown saves seconds per run
    os._exit(0)


if __name__ == "__main__":
    main()
