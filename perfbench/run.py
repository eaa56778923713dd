"""Benchmark entry point: runs one workload and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: live_ingest, backlog_catchup, batch_relational, batch_neardup
(see perfbench/README.md). The program is built from source on first use
(perfbench/build.py). Stream inputs come from the seed; the batch workloads
read the repository's standard sf 0.1 test tables, in a query order the
seed sets. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run. The
last stdout line is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
and the full record (host, notes, per-layer self times) is kept under
.bench_work/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["live_ingest", "backlog_catchup", "batch_relational", "batch_neardup"]
BATCH = {"batch_relational", "batch_neardup"}
BATCH_SF = 0.1
JVM_TIMEOUT_S = 165

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("latency_p50_ms", "ms"),
              ("latency_p90_ms", "ms"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("latency_p99_ms", "ms"), ("trade_msgs_per_s", "1/s"),
    ("depth_msgs_per_s", "1/s"),
    ("source.latest_offset_ms", "ms"), ("source.get_batch_ms", "ms"),
    ("source.lag_msgs", "count"),
    ("engine.batches", "count"), ("engine.trigger_ms_p50", "ms"),
    ("engine.trigger_ms_p95", "ms"), ("engine.query_planning_ms", "ms"),
    ("engine.wal_commit_ms", "ms"), ("engine.commit_offsets_ms", "ms"),
    ("engine.add_batch_ms", "ms"),
    ("BookSynchronizer.state_update_ms", "ms"),
    ("BookSynchronizer.state_commit_ms", "ms"),
    ("BookSynchronizer.state_bytes", "bytes"),
    ("BookSynchronizer.fold_ms", "ms"),
    ("Pipelines.parse_ms", "ms"), ("Pipelines.rows_out", "count"),
    ("Pipelines.dropped_msgs", "count"), ("CsvSink.write_ms", "ms"),
    ("CsvSink.bytes_written", "bytes"), ("generator.late_ms", "ms"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"),
    ("executor.gc_ms", "ms"), ("executor.busy_frac", "fraction"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("executor.spill_bytes", "bytes"),
    ("executor.peak_task_mem_bytes", "bytes"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.tasks_per_stage", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("plan.scans", "count"), ("plan.exchanges", "count"),
    ("plan.reused_exchanges", "count"), ("plan.sorts", "count"),
    ("plan.smj", "count"), ("plan.bhj", "count"),
    ("Relational.wall_s", "s"), ("TimeSeries.wall_s", "s"),
    ("Dedup.wall_s", "s"), ("Similarity.wall_s", "s"),
    ("trace.overhead_s", "s"), ("trace.spans", "count"),
]

def run_jvm(b, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(b.java(args, tmp), stdout=subprocess.PIPE,
                             stderr=log, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM timed out after {JVM_TIMEOUT_S}s")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited {p.returncode}:\n{tail}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        b = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK_ROOT, f"{name}.{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work]
        if a.workload in BATCH:
            data = build.tables_dir(BATCH_SF)
            jvm_args.append(data)
        t0 = time.time()
        r = run_jvm(b, jvm_args, work)
        failed = r["failed"]
        checks = {}
        if a.workload in BATCH:
            import oracle
            queries = r["notes"]["queries"]
            checks = oracle.check_results(data, os.path.join(work, "results"),
                                          queries)
            # a query that threw is already counted as failed by the JVM side
            bad = [q for q, why in checks.items()
                   if why and q not in r["notes"]["errors"]]
            failed += len(bad) * (r["attempted"] // max(len(queries), 1))
            for q in bad:
                print(f"output check failed: {q}: {checks[q]}", file=sys.stderr)
        wanted = PER_LAYER if a.trace else END_TO_END
        missing = [m for m, _ in wanted if m not in r["metrics"]]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        metrics = {m: {"value": r["metrics"][m], "unit": u} for m, u in wanted}
        result = {"correct": failed == 0, "attempted": r["attempted"],
                  "failed": failed, "metrics": metrics}
        record = dict(result, workload=a.workload, seed=a.seed,
                      seconds=a.seconds, trace=a.trace, host=r["host"],
                      notes=r["notes"], output_checks=checks,
                      all_metrics=r["metrics"],
                      trace_self_ms=r["trace_self_ms"],
                      jvm_wall_s=time.time() - t0)
        with open(os.path.join(WORK_ROOT, f"{name}.json"), "w") as f:
            json.dump(record, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(WORK_ROOT, f"{name}.spans.jsonl"))
            print(json.dumps({"trace_self_ms": r["trace_self_ms"],
                              "trace_overhead_s":
                                  r["metrics"]["trace.overhead_s"]}))
        print(json.dumps({"host": r["host"]}))
        print(json.dumps(result))
        return 0
    except Exception as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
