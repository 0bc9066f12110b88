#!/usr/bin/env python3
"""Repository benchmark: one seeded linkage workload, timed end to end,
with every job's output checked.

    python3 perfbench/run.py --workload er_planted --seed 1 --seconds 1 --trace 0

Runs from the root of a source checkout on ``local[<cores>]``. Set-up
starts the session, then builds the program's input from ``--seed`` and
writes it to parquet, three times (the median counts). Jobs then run
back to back until ``--seconds`` have passed, at least one; every job is
checked, and its counts must equal the ones recorded for the seed in
this checkout. Each job prints one telemetry line (wall, peak RSS,
steal% and busy% of the CPU window); the last line is the result:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the
Spark event log on and runs one job with spans and kernel timers around
the layers' public functions in place of the first job, and
reports the per-layer metrics instead. Spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.trace import UDF_LOG_ENV  # noqa: E402  (stdlib only)

OUT = ROOT / ".perfbench_out"  # recorded counts and trace spans
SETUP_REPEATS = 3

END_TO_END = {
    "wall_s": "s",
    "pairs_per_s": "1/s",
    "f1": "ratio",
    "setup_s": "s",
    "ok_share": "ratio",
}

PER_LAYER = {
    "minhash.busy_s": "s", "minhash.docs_per_s": "1/s",
    "blocking.busy_s": "s", "blocking.block_rows": "count",
    "blocking.truncated_blocks": "count", "blocking.truncated_rows": "count",
    "blocking.partition_skew": "ratio", "blocking.shuffle_bytes": "bytes",
    "scoring.busy_s": "s", "scoring.pairs_generated": "count",
    "scoring.dedup_ratio": "ratio", "scoring.pairs_scored": "count",
    "scoring.pairs_accepted": "count", "scoring.accept_ratio": "ratio",
    "scoring.pairs_per_s": "1/s", "scoring.partition_skew": "ratio",
    "scoring.shuffle_bytes": "bytes",
    "jw.busy_s": "s", "jw.pairs_per_s": "1/s",
    "clustering.busy_s": "s", "clustering.rounds": "count",
    "clustering.edges_in": "count", "clustering.clusters": "count",
    "clustering.s_per_round": "s",
    "lineage.busy_s": "s", "lineage.rows_written": "count", "lineage.resume_s": "s",
    "enrich.source_s": "s", "enrich.match_stats_s": "s", "enrich.exact_join_s": "s",
    "enrich.fuzzy_s": "s", "enrich.fuzzy_probes": "count",
    "enrich.fuzzy_hit_ratio": "ratio", "enrich.truncated_blocks": "count",
    "merge.fold_s": "s",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes", "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "session.start_s": "s", "synth.gen_s": "s",
    "trace.overhead_s": "s", "window.steal_pct": "%", "window.busy_pct": "%",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "udf"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ[UDF_LOG_ENV] = str(work / "udf")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def start_session(work: Path, event_log: bool):
    from datamatcher_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "tmp"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        (work / "events").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """Stop Spark and the JVM, and wait until the JVM and its Python
    workers have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.trace import _tree_rss_bytes

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while _tree_rss_bytes(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        from perfbench import workloads  # imports pyspark and the program

        self.args, self.work, self.wl_mod = args, work, workloads
        self.job_dir = work / "job"
        self.attempted = self.failed = 0
        # the seed's counts, recorded by the first checked job in this checkout
        self.counts_path = OUT / f"counts-{args.workload}-{args.seed}.json"
        self.wall_path = OUT / f"wall-{args.workload}-{args.seed}.json"
        OUT.mkdir(exist_ok=True)
        self.facts = (json.loads(self.counts_path.read_text())
                      if self.counts_path.exists() else None)

    def log(self, what: str) -> None:
        print(f"perfbench: {self.args.workload}: {what}", file=sys.stderr, flush=True)

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.log(what)

    def attempt(self, wl, tracer=None):
        """One job: timed run, then its checks outside the timing. Its
        counts must equal the ones first recorded for this seed."""
        from bench_extra import _Window

        from perfbench.trace import RssSampler

        job_dir = self.job_dir
        shutil.rmtree(job_dir, ignore_errors=True)
        rep: dict = {"ok": False}
        res = None
        self.attempted += 1
        with RssSampler() as rss, _Window() as window:
            start, t0 = time.time(), time.perf_counter()
            try:
                res = wl.run(job_dir)
            except Exception:
                self._fail("job raised:\n" + traceback.format_exc())
            rep["wall_s"] = time.perf_counter() - t0
            if tracer is not None:
                tracer.add("job", start, time.time())
        rep.update(peak_rss_mb=rss.peak / 2**20, steal_pct=window.steal_pct,
                   busy_pct=window.busy_pct, counts=getattr(res, "counts", None))
        if res is not None:
            t0 = time.perf_counter()
            try:
                out = wl.check(res)
                if self.facts is None:
                    self.facts = out["facts"]
                    self.counts_path.write_text(json.dumps(self.facts))
                self.wl_mod.require(out["facts"] == self.facts,
                                    f"counts {out['facts']} != recorded {self.facts}")
                rep.update(ok=True, f1=out["f1"], pairs=wl.work_pairs(res))
            except Exception:
                self._fail("check failed:\n" + traceback.format_exc())
            rep["check_s"] = time.perf_counter() - t0
        print(json.dumps({"job": self.attempted, **rep}), flush=True)
        return rep, res

    def run(self) -> dict:
        a = self.args
        spark, start_s = start_session(self.work, event_log=bool(a.trace))
        wl = self.wl_mod.WORKLOADS[a.workload](spark, a.seed, self.work / "inputs")
        gens = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            gens.append(time.perf_counter() - t0)
        setup_s = start_s + statistics.median(gens)
        self.log(f"session start {start_s:.2f} s, input generation {gens}")
        wl.generate_truth()

        if a.trace:
            metrics = self.traced(wl, start_s, gens)
        else:
            reps = []
            deadline = time.monotonic() + a.seconds
            while not reps or time.monotonic() < deadline:
                reps.append(self.attempt(wl)[0])
            good = [r for r in reps if r["ok"]] or reps
            metrics = {
                "wall_s": statistics.median(r["wall_s"] for r in good),
                "pairs_per_s": statistics.median(r.get("pairs", 0) / r["wall_s"] for r in good),
                "f1": statistics.median(r.get("f1", 0.0) for r in good),
                "setup_s": setup_s,
                "ok_share": (self.attempted - self.failed) / self.attempted,
            }
            self.wall_path.write_text(json.dumps(metrics["wall_s"]))
        units = PER_LAYER if a.trace else END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def traced(self, wl, start_s: float, gens: list) -> dict:
        """One traced job in the place of the untraced run's first job, so
        its wall compares with the untraced ``wall_s`` recorded for this
        seed in this checkout."""
        from perfbench import trace

        tracer, census = trace.Tracer(), trace.CensusLog()
        udf_dir = self.work / "udf"
        trace.clear_udf_log(udf_dir)
        with trace.instrumented(tracer, census):
            rep, res = self.attempt(wl, tracer)
        out = dict.fromkeys(PER_LAYER, 0)
        if res is not None:
            out.update(wl.layers(res, tracer, trace.read_udf_log(udf_dir)))
            out["enrich.truncated_blocks"] = census.blocks
            if isinstance(wl, self.wl_mod.ErPlanted):
                out["lineage.resume_s"] = self.resume_probe(wl, res)
        wl.spark.stop()  # flushes and closes the event log

        tasks = trace.read_tasks(self.work / "events")
        eng = trace.engine_stats(trace.tasks_in(tasks, tracer.last("job")))
        out.update({f"spark.{k}": v for k, v in eng.items()})
        for layer in ("blocking", "scoring"):
            spans = [s for s in tracer.spans if s["name"] == layer]
            if spans:
                out[f"{layer}.shuffle_bytes"] = trace.shuffle_bytes(trace.tasks_in(tasks, spans[-1]))
        if self.wall_path.exists():
            out["trace.overhead_s"] = rep["wall_s"] - json.loads(self.wall_path.read_text())
        else:
            self.log("no untraced run of this seed here yet; trace.overhead_s reads 0")
        out.update({
            "session.start_s": start_s,
            "synth.gen_s": statistics.median(gens),
            "window.steal_pct": rep["steal_pct"],
            "window.busy_pct": rep["busy_pct"],
        })
        tracer.write(OUT / f"trace-{self.args.workload}-{self.args.seed}.json")
        return out

    def resume_probe(self, wl, res) -> float:
        """Relaunch with the same run_id: every stage must be skipped and
        the clusters unchanged. Then drop the cluster commit marker and
        relaunch again; that run's wall is returned."""
        from datamatcher_spark.plans.run import STAGES

        require = self.wl_mod.require
        job_dir = self.job_dir
        self.attempted += 1
        try:
            want = wl.cluster_digest(res)
            again = wl.run(job_dir)
            require(again.stages_skipped == list(STAGES) and not again.stages_run,
                    f"resume ran {again.stages_run}")
            require(wl.cluster_digest(again) == want, "resumed clusters differ")
            (job_dir / "_commits" / self.wl_mod.RUN_ID / "cluster.json").unlink()
            t0 = time.perf_counter()
            again = wl.run(job_dir)
            resume_s = time.perf_counter() - t0
            require(again.stages_run == ["cluster"], f"partial resume ran {again.stages_run}")
            require(wl.cluster_digest(again) == want, "re-clustered output differs")
            return resume_s
        except Exception:
            self._fail("resume probe failed:\n" + traceback.format_exc())
            return 0.0


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["er_planted", "er_skewed", "enrich_fuzzy"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    isolate(work)
    try:
        bench = Bench(args, work)
        try:
            result = bench.run()
        finally:
            stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
