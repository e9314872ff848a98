"""Benchmark entry point.

    python3 perfbench/run.py --workload <ma_pipeline|index_lifecycle>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``perfbench/.work/`` before any timing; the package receives
only those files. Human-readable lines come first; the last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``).

``--trace 1`` runs the workload with spans, job descriptions and the
Spark event log on. Its end-to-end metrics, set against those of the
untraced runs kept in ``perfbench/.results/`` (one is run first in a
child process when none is kept), give the tracing overhead. Spans and
the joined event log are kept in ``perfbench/.traces/``.

End-to-end costs are CPU time (user plus system) of this process, the
JVM and the Python workers, not wall time: on a shared host wall time
follows the hypervisor's steal. Wall-clock latencies are printed as
``report`` lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "mergers_acquisitions_predictions_spark"
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import measure  # noqa: E402

WORKLOADS = ("ma_pipeline", "index_lifecycle")

#: ma_pipeline corpus: companies × filings each.
MA_COMPANIES, MA_FILINGS_PER_COMPANY = 200, 4
#: index_lifecycle: one shard is one copy of the block; the base is 10.
INDEX_SHARD_VECTORS, INDEX_SHARD_DOCS, INDEX_BASE_SHARDS, INDEX_BATCH = 300, 300, 10, 16

E2E_UNITS = {"setup_s": "s", "op_cpu_ms": "ms", "work_per_cpu_s": "1/s", "peak_rss_mb": "MB"}
HIGHER_IS_BETTER = {"work_per_cpu_s"}

#: Results of untraced runs, kept as the tracing-overhead baseline.
RESULTS = BENCH / ".results"

#: Spans whose Spark jobs are reported as ``<span>.spark.<field>``.
SPARK_SPANS = (
    "pipeline.link", "tfidf.fit", "tfidf.transform", "pipeline.label", "classify.train",
    "classify.eval", "classify.score", "pipeline.predict", "plans.construct", "plans.exec",
    "ann_index.build", "bm25.build", "ann_index.append", "bm25.append", "ann_index.search",
    "bm25.search", "ann_index.compact", "serving.reconcile", "host.control",
)
SPARK_UNITS = {"task_cpu_s": "s", "task_wait_s": "s", "shuffle_mb": "MB", "jobs": "count"}

#: Per-layer metric → (unit, sample name, reduction). Samples a
#: workload never takes read 0: that layer did no work there.
NAMED_LAYER = {
    "session.start_s": ("s", "session.start", "median"),
    "plans.construct_ms_p50": ("ms", "plans.construct_ms", "median"),
    "plans.exec_ms_p50": ("ms", "plans.exec_ms", "median"),
    "plans.first_ms_p50": ("ms", "plans.first_ms", "median"),
    "plans.repeat_ms_p50": ("ms", "plans.repeat_ms", "median"),
    "pipeline.link_s": ("s", "pipeline.link", "median"),
    "pipeline.label_s": ("s", "pipeline.label", "median"),
    "pipeline.predict_s": ("s", "pipeline.predict", "median"),
    "pipeline.pairs_rows": ("count", "pipeline.pairs_rows", "last"),
    "tfidf.fit_s": ("s", "tfidf.fit", "median"),
    "tfidf.transform_s": ("s", "tfidf.transform", "median"),
    "tfidf.vocab_size": ("count", "tfidf.vocab_size", "last"),
    "classify.train_s": ("s", "classify.train", "median"),
    "classify.eval_s": ("s", "classify.eval", "median"),
    "classify.auc": ("ratio", "classify.auc", "last"),
    "ann_index.build_s": ("s", "ann_index.build", "median"),
    "bm25.build_s": ("s", "bm25.build", "median"),
    "ann_index.append_s": ("s", "ann_index.append", "median"),
    "bm25.append_s": ("s", "bm25.append", "median"),
    "ann_index.compact_s": ("s", "ann_index.compact", "median"),
    "ann_index.compact_fired": ("count", "ann_index.compact_fired", "sum"),
    "ann_index.search_ms_p50": ("ms", "ann_index.search", "median_ms"),
    "bm25.search_ms_p50": ("ms", "bm25.search", "median_ms"),
    "serving.reconcile_s": ("s", "serving.reconcile", "median"),
    "serving.reconciled_rows": ("count", "serving.reconciled_rows", "last"),
    "fs.bytes_written_per_input_byte": ("ratio", "fs.bytes_written_per_input_byte", "last"),
    "fs.files_per_cell_max": ("count", "fs.files_per_cell_max", "max"),
    "fs.files_total": ("count", "fs.files_total", "last"),
}
REDUCE = {
    "median": measure.median,
    "median_ms": lambda v: 1e3 * measure.median(v),
    "last": lambda v: v[-1],
    "sum": sum,
    "max": max,
}
SELF_LAYERS = sorted(set(measure.LAYERS.values()))
SPARK_TOTALS = {"spark.gc_s": "s", "spark.spill_mb": "MB", "spark.failed_tasks": "count",
                "spark.jobs_unattributed": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in BENCHMARK.json order."""
    out = {name: spec[0] for name, spec in NAMED_LAYER.items()}
    out["host.control_ms"] = "ms"
    out.update({f"{layer}.self_s": "s" for layer in SELF_LAYERS})
    out["trace.unattributed_s"] = "s"
    out["trace.wall_s"] = "s"
    out.update(SPARK_TOTALS)
    for span in SPARK_SPANS:
        out.update({f"{span}.spark.{f}": u for f, u in SPARK_UNITS.items()})
    out.update({f"trace.overhead.{m}": "ratio" for m in E2E_UNITS})
    return out


def generate(workload: str, seed: int, seconds: int, inputs: str) -> dict:
    """Write the inputs to ``inputs``; return their sizes."""
    import workloads as w

    if workload == "ma_pipeline":
        return gen.ma_corpus(inputs, seed, MA_COMPANIES, MA_FILINGS_PER_COMPANY)
    rounds = w.units(seconds, w.INDEX_SECONDS_PER_ROUND)
    sizes = gen.index_stack(inputs, seed, INDEX_SHARD_VECTORS, INDEX_SHARD_DOCS,
                            INDEX_BASE_SHARDS, rounds, w.INDEX_QUERY_BATCHES, INDEX_BATCH)
    sizes.update(rounds=rounds, shard_vectors=INDEX_SHARD_VECTORS,
                 shard_docs=INDEX_SHARD_DOCS, batch_size=INDEX_BATCH,
                 sf01_embeddings=gen.sf01_embeddings(f"{inputs}/sf", seed))
    return sizes


def become_subreaper() -> None:
    """Adopt orphaned descendants. The PySpark daemon and its workers
    outlive the JVM that started them for a moment; without this they
    would pass to init, out of reach of ``stop_descendants``."""
    import ctypes

    pr_set_child_subreaper = 36
    if ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: ``grace`` seconds to exit on their own, then
    SIGTERM, then SIGKILL."""
    me = os.getpid()
    start = time.monotonic()
    while True:
        _reap()
        pids = [p for p in measure.tree_pids(me) if p != me]
        if not pids:
            return
        waited = time.monotonic() - start
        if waited > grace:
            sig = signal.SIGTERM if waited < grace + 5 else signal.SIGKILL
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(args, work: str, sizes: dict, inputs: str, trace: bool):
    import workloads as w

    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # A fixed set of JIT compiler threads, whose CPU measure.tree_cpu_s
        # leaves out.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": f"file://{work}/eventlog"})

    def describe(label):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobDescription(label)

    tracer = measure.Tracer(uuid.uuid4().hex[:12], describe if trace else None)
    b = w.Bench(tracer, work, nproc, conf)
    cpu0 = measure.host_cpu_ticks()
    with measure.RssSampler() as rss:
        t0 = time.perf_counter()
        try:
            if args.workload == "ma_pipeline":
                e2e = w.ma_pipeline(b, inputs, sizes, args.seconds)
            else:
                e2e = w.index_lifecycle(b, inputs, f"{inputs}/sf", sizes, args.seconds)
        finally:
            wall = time.perf_counter() - t0
            if b.spark is not None:
                b.spark.stop()
            stop_jvm()
    e2e["peak_rss_mb"] = rss.peak_mb
    b.report["host_steal_pct"] = measure.steal_pct(cpu0, measure.host_cpu_ticks())
    return b, e2e, wall


def layer_metrics(b, e2e: dict, wall: float, work: str, baseline: dict) -> dict:
    out = {}
    for name, (_unit, sample, how) in NAMED_LAYER.items():
        values = b.layer.get(sample)
        out[name] = float(REDUCE[how](values)) if values else 0.0
    out["host.control_ms"] = 1e3 * measure.median(b.control_s[-2:])
    for layer, v in measure.layer_self_times(b.tracer.spans, wall).items():
        out["trace.unattributed_s" if layer == "unattributed" else f"{layer}.self_s"] = v
    out["trace.wall_s"] = wall
    per, totals = measure.join_event_log(
        measure.read_event_logs(f"{work}/eventlog"), b.tracer.spans, b.tracer.run_id)
    for key in SPARK_TOTALS:
        out[key] = float(totals[key.split(".", 1)[1]])
    for span in SPARK_SPANS:
        for field in SPARK_UNITS:
            out[f"{span}.spark.{field}"] = float(per.get(span, {}).get(field, 0.0))
    for m in E2E_UNITS:
        base = baseline.get(m, {}).get("value")
        ratio = (base / e2e[m] if m in HIGHER_IS_BETTER else e2e[m] / base) if base else 1.0
        out[f"trace.overhead.{m}"] = ratio - 1.0
    return out


def result_path(args, seed: int) -> Path:
    return RESULTS / f"{args.workload}-t{args.seconds}-s{seed}.json"


def untraced_baseline(args) -> dict:
    """End-to-end metrics of untraced runs of this workload: the run of
    this seed if one was kept, else the median over the kept runs of
    other seeds, else a fresh untraced run in a child process."""
    kept = result_path(args, args.seed)
    if not kept.is_file():
        others = sorted(RESULTS.glob(f"{args.workload}-t{args.seconds}-s*.json"))
        if others:
            runs = [json.loads(p.read_text())["metrics"] for p in others]
            return {m: {"value": measure.median([r[m]["value"] for r in runs if m in r])}
                    for m in E2E_UNITS}
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.DEVNULL, timeout=170)
        if proc.returncode != 0 or not kept.is_file():
            raise RuntimeError(f"untraced run exited {proc.returncode} without a correct result")
    return json.loads(kept.read_text())["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE}/ not found next to {BENCH.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    become_subreaper()
    # A termination request unwinds through the clean-up below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = str(BENCH / ".work" / f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("tmp", "scratch", "inputs"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    # Everything the package, Spark and Python workers write stays in work/.
    os.environ.update(SPARK_GRAFT_SCRATCH=f"{work}/scratch", TMPDIR=f"{work}/tmp",
                      SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                      # A 1 GB driver heap instead of the product's 8 GB keeps
                      # the benchmark small on a shared host; the inputs need
                      # far less.
                      SPARK_GRAFT_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable)
    tempfile.tempdir = None
    try:
        inputs = f"{work}/inputs"
        sizes = generate(args.workload, args.seed, args.seconds, inputs)
        baseline = untraced_baseline(args) if args.trace else None
        b, e2e, wall = run_workload(args, work, sizes, inputs, bool(args.trace))

        print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} loop=closed clients=1 master=local[{b.nproc}]")
        print("inputs " + json.dumps(sizes, sort_keys=True))
        for k, v in sorted(b.report.items()):
            print(f"report {k} = {v}")
        print(f"report fail_ratio = {b.failed / max(b.attempted, 1)} ({b.failed}/{b.attempted})")
        for err in b.errors:
            print(f"error {err}")
        for name, unit in E2E_UNITS.items():
            print(f"e2e {name} = {e2e[name]:.6g} {unit}")
        failed, attempted = b.failed, b.attempted
        if args.trace:
            metrics = layer_metrics(b, e2e, wall, work, baseline)
            units = per_layer_units()
            trace_dir = BENCH / ".traces"
            trace_dir.mkdir(exist_ok=True)
            b.tracer.dump(str(trace_dir / f"{args.workload}-s{args.seed}.json"),
                          {"workload": args.workload, "seed": args.seed, "wall_s": wall,
                           "metrics": metrics})
            for name in units:
                print(f"layer {name} = {metrics[name]:.6g} {units[name]}")
        else:
            metrics, units = e2e, E2E_UNITS
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        if not args.trace and result["correct"]:
            RESULTS.mkdir(exist_ok=True)
            result_path(args, args.seed).write_text(json.dumps(result))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
