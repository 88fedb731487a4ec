#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client driving the engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0

One run starts one SparkSession on ``local[<cores>]`` and sets it up:
session start plus one discarded warm-up pass over the workload's inputs,
after which every op's output is checked. It then runs whole timed passes
until ``--seconds`` have elapsed (at least one). A pass runs each of the
workload's ops once, in an order drawn from the seed, and the next op
starts only when the previous one returns.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs an
untraced, a traced and an untraced pass (more while time remains) and
reports the per-layer metrics of the traced passes: spans around the
benchmark's calls into each layer, Spark's REST, listener and codegen
counters, and ``/proc``. Their pass time against the untraced passes is
the tracing overhead. Probes that redo engine work (Catalyst's second
planning of a registry frame, the PPJoin pair counts) run outside the op
spans and are kept out of the traced pass time. The last line of stdout is one JSON object;
provenance, per-op latencies and spans go to ``.perfbench/results/``.

The star schema and events are the seed-42 testdata at sf0.01, stored in
``perfbench/data/sf0.01``; the curation corpus is generated from
``--seed``. All inputs fit in memory; this is not a cache-pressure test.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

ROOT = os.getcwd()
WORKLOADS = ("curation", "ingest")
#: the seed-42 testdata at sf0.01 (byte-identical copies); the Zipf corpus
#: and the op order come from ``--seed``
STAR_DIR = os.path.join("perfbench", "data", "sf0.01")
CORPUS_DOCS = 2000
DRIVER_MEM = "2g"
#: hard stop, inside the 180 s a run may take
WATCHDOG_S = 170

#: end-to-end metrics: name -> unit. A metric is GATED (carries a bound and
#: is in the result) when its spread over ten runs (quartile distance over
#: median) stays within 0.10 on both workloads in every ten-run set taken;
#: setup_s is gated in any case. The others are printed with the reason;
#: the sets are in perfbench/BASELINE.md.
E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
    "op_tail_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio",
}
GATED = ("setup_s",)
UNGATED_WHY = {
    "pass_s": "ten-run spread above 0.10: host load moves wall time between runs",
    "rows_per_s": "input rows per pass over pass_s, so as unsteady as pass_s",
    "op_p50_s": "ten-run spread above 0.10, as for pass_s",
    "op_tail_s": "a pass has fewer than 11 ops, so no percentile has ten samples beyond it",
    "cpu_s": "ten-run spread above 0.10 on ingest: host contention moves CPU time too",
    "peak_rss_mb": "ten-run spread above 0.10 on ingest: JVM heap growth varies",
    "failed_frac": "0 at HEAD, and a gated metric must not be 0; failures gate through correct/failed",
}

#: per-layer metrics of a traced run: name -> (unit, which way is better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "plans.build_job_s": ("s", "lower"),
    "plans.build_driver_s": ("s", "lower"),
    "pipelines.build_s": ("s", "lower"),
    "sources.scan_rows": ("rows", "lower"),
    "sources.scan_bytes": ("B", "lower"),
    "sources.write_s": ("s", "lower"),
    "sources.write_bytes": ("B", "lower"),
    "sources.write_files": ("count", "lower"),
    "llmops.train_s": ("s", "lower"),
    "llmops.candidate_pairs": ("count", "lower"),
    "llmops.verified_pairs": ("count", "higher"),
    "llmops.pair_yield": ("ratio", "higher"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.query_planning_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.state_rows": ("rows", "lower"),
    "streaming.state_bytes": ("B", "lower"),
    "streaming.leaked_dirs": ("count", "lower"),
    "spark.catalyst.analysis_s": ("s", "lower"),
    "spark.catalyst.optimization_s": ("s", "lower"),
    "spark.catalyst.planning_s": ("s", "lower"),
    "spark.codegen.compiles": ("count", "lower"),
    "spark.codegen.compile_s": ("s", "lower"),
    "spark.exec.action_s": ("s", "lower"),
    "spark.exec.run_s": ("s", "lower"),
    "spark.exec.cpu_s": ("s", "lower"),
    "spark.exec.gc_s": ("s", "lower"),
    "spark.exec.stages": ("count", "lower"),
    "spark.exec.tasks": ("count", "lower"),
    "spark.exec.failed_tasks": ("count", "lower"),
    "spark.exec.off_task_s": ("s", "lower"),
    "spark.exec.core_util": ("ratio", "higher"),
    "spark.shuffle.write_bytes": ("B", "lower"),
    "spark.shuffle.read_bytes": ("B", "lower"),
    "spark.shuffle.fetch_wait_s": ("s", "lower"),
    "spark.shuffle.spill_bytes": ("B", "lower"),
    "pyudf.cpu_s": ("s", "lower"),
    "cache.retained_rdds": ("count", "lower"),
    "cache.retained_bytes": ("B", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.span_coverage": ("ratio", "higher"),
    "trace.overhead_ratio": ("ratio", "lower"),
}
#: build spans of the query-construction layer (registry and llmops chains)
PLAN_BUILD_LAYERS = ("plans", "llmops.train", "llmops.curate")


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


# ---------------------------------------------------------------------------
# process hygiene


def descendants() -> list[int]:
    from measure import process_tree

    me = os.getpid()
    return [p for p in process_tree(me) if p != me]


def kill_descendants() -> None:
    for p in descendants():
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def watchdog() -> None:
    print(f"perfbench: run exceeded {WATCHDOG_S} s, aborting", file=sys.stderr, flush=True)
    kill_descendants()
    os._exit(3)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every child process
    (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    kill_descendants()
    while descendants():
        time.sleep(0.05)


def prepare_env(run_dir: str) -> dict[str, str]:
    """Per-run directories and the environment Spark and its Python
    workers start with; nothing is written outside the checkout."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "checkpoints")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # Python workers unpickle engine functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {DRIVER_MEM} pyspark-shell"
    # every JVM, the launcher's too; without -XX:-UsePerfData HotSpot keeps
    # its counters file in /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


# ---------------------------------------------------------------------------
# one run


class Runner:
    def __init__(self, args, spark, ctx, ops):
        from measure import SparkCounters, progress_listener

        self.args, self.spark, self.ctx, self.ops = args, spark, ctx, ops
        self.traced = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.failures: dict[str, str] = {}
        self.inputs_of: dict[str, list[str]] = {}
        self.span_log: list[dict] = []
        if self.traced:
            self.progress = progress_listener()
            spark.streams.addListener(self.progress)
            self.counters = SparkCounters(spark)

    def order(self) -> list:
        return self.rng.sample(self.ops, len(self.ops))

    def run_op(self, op, tr) -> tuple[float, dict | None, Exception | None]:
        self.ctx.tr = tr
        t0 = time.perf_counter()
        out, err = None, None
        with tr.span("op", "op", op=op.name):
            try:
                out = op.run(self.ctx)
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                err = e
        return time.perf_counter() - t0, out, err

    def after_op(self, rec: dict | None) -> None:
        """Release what an op left behind: caches, memory sinks and the
        replay dirs ``streams._replay_dir`` never removes. In a traced pass
        ``rec`` first records them, and the tables the op wrote."""
        from measure import dir_stats

        spark, ctx = self.spark, self.ctx
        if rec is not None:
            rec["retained_rdds"], rec["retained_bytes"] = self.counters.cache_state()
            stats = [dir_stats(os.path.join(ctx.warehouse, t)) for t in ctx.written]
            rec["write_files"] = sum(f for f, _ in stats)
            rec["write_bytes"] = sum(b for _, b in stats)
        ctx.written.clear()
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
        for sink in ctx.sinks:
            spark.catalog.dropTempView(sink)
        ctx.sinks.clear()
        leaked = [d for d in os.listdir(ctx.tmp_root) if d.startswith("stream-")]
        for d in leaked:
            shutil.rmtree(os.path.join(ctx.tmp_root, d), ignore_errors=True)
        if rec is not None:
            rec["leaked_dirs"] = len(leaked)

    def op_inputs(self, op, out: dict) -> list[str]:
        """Tables an op scans: declared, or read off its frames' files."""
        if op.reads:
            return list(op.reads)
        files = {f for df in out.values() if hasattr(df, "inputFiles") for f in df.inputFiles()}
        return sorted({os.path.basename(f.rstrip("/")).removesuffix(".parquet") for f in files})

    def warm_and_check(self) -> tuple[float, float]:
        """One discarded pass over the target inputs; each op's output is
        checked right after it ran. Returns (pass seconds, check seconds)."""
        from check import check
        from measure import Tracer

        warm = chk = 0.0
        for op in self.order():
            dt, out, err = self.run_op(op, Tracer(False))
            warm += dt
            t0 = time.perf_counter()
            msg = f"raised {type(err).__name__}: {err}" if err else check(self.ctx, op, out)
            if msg:
                self.failures[op.name] = msg[:500]
            if out is not None:
                self.inputs_of[op.name] = self.op_inputs(op, out)
            self.after_op(None)
            chk += time.perf_counter() - t0
        return warm, chk

    def timed(self) -> dict:
        from measure import RssSampler, Tracer, host_steal, tree_cpu

        passes, cpu, lat, traced_passes = [], [], [], []
        failed = 0
        steal0 = host_steal()
        with RssSampler(self.jvm_pid) as rss:
            t_loop = time.perf_counter()
            i = 0
            while True:
                traced_pass = self.traced and i % 2 == 1
                tr = Tracer(traced_pass)
                if traced_pass:
                    self.counters.skip_history()
                    self.progress.events.clear()
                c0, w0 = tree_cpu(self.jvm_pid)
                t0, wall0 = time.perf_counter(), time.time()
                recs, probe_s = [], 0.0
                for op in self.order():
                    dt, out, err = self.run_op(op, tr)
                    if err is not None:
                        self.failures.setdefault(op.name, f"raised {type(err).__name__}: {err}"[:500])
                    failed += op.name in self.failures
                    lat.append((op.name, dt))
                    rec = {"op": op.name, "s": dt} if traced_pass else None
                    if rec is not None and op.kind == "registry" and out:
                        # a second planning, outside the op and the pass time
                        tp = time.perf_counter()
                        rec["catalyst"] = self.counters.catalyst_phases(out[op.name])
                        probe_s += time.perf_counter() - tp
                    self.after_op(rec)
                    if rec is not None:
                        recs.append(rec)
                pass_s = time.perf_counter() - t0 - probe_s
                c1, w1 = tree_cpu(self.jvm_pid)
                if traced_pass:
                    per = self.layer_pass(tr, recs, wall0, time.time(), pass_s, w1 - w0)
                    per.update(self.ppjoin_pairs())
                    traced_passes.append(per)
                else:
                    passes.append(pass_s)
                    cpu.append(c1 - c0)
                i += 1
                if time.perf_counter() - t_loop >= self.args.seconds and i >= (3 if self.traced else 1):
                    break
        return {
            "passes": passes, "cpu": cpu, "latencies": lat, "peak_rss_mb": rss.peak_mb,
            "host_steal_share": host_steal(steal0), "attempted": len(lat), "failed": failed,
            "traced_passes": traced_passes,
        }

    def ppjoin_pairs(self) -> dict[str, float]:
        """PPJoin candidate and verified pairs on the frames curate handed
        to ``dedup.ppjoin_pairs`` in the traced pass (after its quality
        gate and exact dedup), counted after the pass and its counters."""
        from ecommerce_etl_pipeline_spark.llmops import dedup

        n_cand = n_ver = 0
        for a in self.ctx.ppjoin_calls:
            cand, ordered = dedup.ppjoin_candidates(
                a["docs"], a["id_col"], a["text_col"],
                threshold=a["threshold"], shingle_k=a["shingle_k"], hashed=a["hashed"],
            )
            n_cand += cand.count()
            n_ver += dedup.ppjoin_verify(cand, ordered, threshold=a["threshold"]).count()
            ordered.unpersist()
        self.ctx.ppjoin_calls.clear()
        return {
            "llmops.candidate_pairs": float(n_cand),
            "llmops.verified_pairs": float(n_ver),
            "llmops.pair_yield": n_ver / n_cand if n_cand else 0.0,
        }

    def layer_pass(self, tr, recs, wall0, wall1, pass_s, worker_cpu) -> dict:
        """Per-layer metrics of one traced pass: Spark's stages and jobs are
        attributed to the innermost span holding their completion time."""
        from measure import (
            attribute, child_coverage, clip, drain_listeners, sum_stages,
            union_length,
        )

        drain_listeners(self.spark)
        stages = self.counters.new_stages()
        jobs = self.counters.new_jobs()
        compiles, compile_s = self.counters.codegen_delta()
        spans = tr.spans
        stage_owner = attribute(stages, spans)
        job_owner = attribute(jobs, spans)

        def span_s(pred) -> float:
            return sum(s.dur for s in spans if pred(s))

        build = [s for s in spans if s.name == "build" and s.layer in PLAN_BUILD_LAYERS]
        build_s = sum(s.dur for s in build)
        build_job_s = sum(
            union_length([clip((j["t_end"] - j["dur"], j["t_end"]), s.t0, s.t1)
                          for j in job_owner.get(s.sid, [])])
            for s in build
        )
        execs = [s for s in spans if s.name in ("action", "write", "trigger")]
        ex = sum_stages([st for s in execs for st in stage_owner.get(s.sid, [])])
        every = sum_stages(stages)
        action_s = sum(s.dur for s in execs)
        catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for r in recs:
            for k, v in r.get("catalyst", {}).items():
                catalyst[k] += v
        prog = [p for t, p in self.progress.events if wall0 <= t <= wall1]

        def stream_s(key: str) -> float:
            return sum(p.get("durationMs", {}).get(key, 0) for p in prog) / 1e3

        final_state = {p["runId"]: p.get("stateOperators", []) for p in prog}
        state = [o for ops in final_state.values() for o in ops]

        def total(key: str) -> float:
            return float(sum(r[key] for r in recs))

        self.span_log.append({
            "wall": [wall0, wall1],
            "spans": [{"sid": s.sid, "parent": s.parent, "name": s.name, "layer": s.layer,
                       "t0": s.t0, "t1": s.t1, "op": s.attrs.get("op")} for s in spans],
            "ops": recs,
        })
        return {
            "plans.build_s": build_s,
            "plans.build_jobs": float(sum(len(job_owner.get(s.sid, [])) for s in build)),
            "plans.build_job_s": build_job_s,
            "plans.build_driver_s": build_s - build_job_s,
            "pipelines.build_s": span_s(lambda s: s.name == "build" and s.layer == "pipelines"),
            "sources.scan_rows": every["scan_rows"],
            "sources.scan_bytes": every["scan_bytes"],
            "sources.write_s": span_s(lambda s: s.name == "write"),
            "sources.write_bytes": total("write_bytes"),
            "sources.write_files": total("write_files"),
            "llmops.train_s": span_s(lambda s: s.layer == "llmops.train"),
            "streaming.batches": float(len(prog)),
            "streaming.trigger_s": stream_s("triggerExecution"),
            "streaming.add_batch_s": stream_s("addBatch"),
            "streaming.query_planning_s": stream_s("queryPlanning"),
            "streaming.wal_commit_s": stream_s("walCommit") + stream_s("commitOffsets"),
            "streaming.state_rows": float(sum(o.get("numRowsTotal", 0) for o in state)),
            "streaming.state_bytes": float(sum(o.get("memoryUsedBytes", 0) for o in state)),
            "streaming.leaked_dirs": total("leaked_dirs"),
            "spark.catalyst.analysis_s": catalyst["analysis"],
            "spark.catalyst.optimization_s": catalyst["optimization"],
            "spark.catalyst.planning_s": catalyst["planning"],
            "spark.codegen.compiles": float(compiles),
            "spark.codegen.compile_s": compile_s,
            "spark.exec.action_s": action_s,
            "spark.exec.run_s": ex["run_s"],
            "spark.exec.cpu_s": ex["cpu_s"],
            "spark.exec.gc_s": ex["gc_s"],
            "spark.exec.stages": ex["stages"],
            "spark.exec.tasks": ex["tasks"],
            "spark.exec.failed_tasks": ex["failed_tasks"],
            "spark.exec.off_task_s": action_s - ex["run_s"] / self.cores,
            "spark.exec.core_util": ex["cpu_s"] / (action_s * self.cores) if action_s else 0.0,
            "spark.shuffle.write_bytes": every["shuffle_write_bytes"],
            "spark.shuffle.read_bytes": every["shuffle_read_bytes"],
            "spark.shuffle.fetch_wait_s": every["fetch_wait_s"],
            "spark.shuffle.spill_bytes": every["spill_bytes"],
            "pyudf.cpu_s": worker_cpu,
            "cache.retained_rdds": total("retained_rdds"),
            "cache.retained_bytes": total("retained_bytes"),
            "trace.pass_s": pass_s,
            "trace.span_coverage": min(child_coverage(s, spans) for s in spans if s.layer == "op"),
        }


def measure_run(args, spark, dirs, inputs, stats, session_s) -> tuple[list[str], dict, dict]:
    import pyspark

    import workloads
    from measure import median, tail_percentile

    ctx = workloads.Ctx(spark, inputs, None, dirs["checkpoints"], dirs["tmp"], dirs["warehouse"])
    ops = workloads.WORKLOADS[args.workload]
    r = Runner(args, spark, ctx, ops)
    warm_s, check_s = r.warm_and_check()
    res = r.timed()
    for t in sorted(ctx.tables):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    read = {t for op in ops for t in r.inputs_of.get(op.name, [])}
    rows_per_pass = sum(stats[t]["rows"] for op in ops for t in r.inputs_of.get(op.name, []))
    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "inputs": {
            "star_schema": f"{STAR_DIR}: the seed-42 testdata at sf0.01",
            "corpus": f"scripts/make_zipf.make_corpus({CORPUS_DOCS}, seed={args.seed})",
            "tables_read": {t: stats[t] for t in sorted(read)},
            "rows_per_pass": rows_per_pass,
            "fits_in_memory": True,
        },
        "op_inputs": r.inputs_of,
        "setup": {"session_start_s": session_s, "warmup_s": warm_s, "check_s": check_s},
        "host_steal_share": res["host_steal_share"],
        "failures": r.failures,
    }
    lines = [f"provenance {json.dumps(prov, sort_keys=True)}"]
    lines += [f"FAILED {name}: {msg}" for name, msg in sorted(r.failures.items())]
    attempted, failed = res["attempted"], res["failed"]

    e2e = {}
    if not r.traced:
        lat = [dt for _, dt in res["latencies"]]
        pct, tail, n = tail_percentile(lat)
        pass_s = median(res["passes"])
        e2e = {
            "setup_s": session_s + warm_s,
            "pass_s": pass_s,
            "rows_per_s": rows_per_pass / pass_s,
            "op_p50_s": median(lat),
            "op_tail_s": tail,
            "cpu_s": median(res["cpu"]),
            "peak_rss_mb": res["peak_rss_mb"],
            "failed_frac": failed / attempted,
        }
        for k, v in e2e.items():
            why = "" if k in GATED else f"  (not gated: {UNGATED_WHY[k]})"
            lines.append(f"{k} {v:.6g} {E2E_UNITS[k]}{why}")
        lines.append(f"op_tail_s is p{pct:.1f} of {n} op samples over {len(res['passes'])} passes")
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in GATED}
    else:
        per = {k: median([p[k] for p in res["traced_passes"]]) for k in res["traced_passes"][0]}
        untraced = median(res["passes"])
        per.update({
            "trace.overhead_ratio": per["trace.pass_s"] / untraced,
            "session.start_s": session_s,
            "session.warmup_s": warm_s,
        })
        assert set(per) == set(PER_LAYER), set(per) ^ set(PER_LAYER)
        lines += [f"{k} {per[k]:.6g} {PER_LAYER[k][0]}" for k in sorted(per)]
        lines.append(f"untraced pass_s {untraced:.6g} s, traced {per['trace.pass_s']:.6g} s")
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in sorted(per.items())}
    final = {"correct": not r.failures, "attempted": attempted, "failed": failed, "metrics": metrics}
    details = {"provenance": prov, "result": final, "end_to_end": e2e, "passes": res["passes"],
               "cpu": res["cpu"],
               "latencies": res["latencies"], "traced_passes": r.span_log}
    return lines, final, details


def table_stats(sf_dir: str) -> dict[str, dict[str, int]]:
    """Rows and bytes of every parquet table in a directory."""
    out = {}
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            out[f.removesuffix(".parquet")] = {
                "rows": pq.read_metadata(path).num_rows,
                "bytes": os.path.getsize(path),
            }
    return out


def write_corpus(out_dir: str, seed: int) -> str:
    """The Zipf curation corpus of ``seed`` as ``<out_dir>/documents.parquet``."""
    from make_zipf import make_corpus

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(make_corpus(CORPUS_DOCS, seed), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def main() -> int:
    args = parse_args()
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    for need in ("ecommerce_etl_pipeline_spark/__init__.py", "scripts/make_zipf.py", "tests/oracle.py",
                 os.path.join(STAR_DIR, "events.parquet")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the repository root", file=sys.stderr)
            return 2
    timer = threading.Timer(WATCHDOG_S, watchdog)
    timer.daemon = True
    timer.start()

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = prepare_env(run_dir)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    try:
        from workloads import Inputs

        star = os.path.join(ROOT, STAR_DIR)
        corpus = write_corpus(os.path.join(run_dir, "corpus"), args.seed)
        stats = {**table_stats(star), "corpus": table_stats(corpus)["documents"]}

        t0 = time.perf_counter()
        from ecommerce_etl_pipeline_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": dirs["warehouse"],
                "spark.sql.streaming.checkpointLocation": dirs["checkpoints"],
                "spark.ui.showConsoleProgress": "false",
            },
        )
        try:
            spark.sparkContext.setLogLevel("ERROR")
            lines, final, details = measure_run(
                args, spark, dirs, Inputs(star, corpus), stats, time.perf_counter() - t0
            )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        timer.cancel()
    out = os.path.join(work, "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(details, fh, indent=1)
    print("\n".join(lines))
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
