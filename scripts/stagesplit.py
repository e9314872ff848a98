"""Event-log stage-split harness (VERDICT r13 #7).

Usage: python scripts/stagesplit.py <query> [<query> ...] [--runs N]

Makes the d05/s18 ad-hoc methodology from round 13 a one-command
record: run a bench row with the eager lifecycle functions wrapped so
each call sets a thread-local job description ("<query>|<label>"),
execute warm + N timed noop-sink runs (bench.py's action), then parse
the Spark event log offline and report, PER LABELED PHASE, the task
metrics that distinguish plan defects from ambient stalls:

  wall     driver-side wall seconds of the MIN-total run's phase
  run      sum of executor run time (s) across tasks
  cpu      sum of executor CPU time (s) — run >> cpu = blocked, not computing
  gc       JVM GC time (s)
  fetch    shuffle fetch wait (s) — §2.1's downstream shuffle cost
  spill    memory+disk bytes spilled
  sh_read / sh_write   shuffle bytes

Jobs submitted from worker threads (the s35/s45/s47 build overlap)
do not inherit the description and land under "(unlabeled)" — their
wall time still shows in the driver-side splits.

Prints one JSON line per query; the per-phase table goes to stderr.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time


#: (module path, function name, label) — the eager lifecycle stages
#: bench.py attributes, plus the BM25 / token-index builders for the
#: r14 deep-pass rows.
STAGED = [
    ("operators.ann_index", "build_ivfsq_index", "build"),
    ("operators.ann_index", "append_index", "append"),
    ("operators.ann_index", "compact_index", "compact"),
    ("operators.similarity", "kmeans_centroids", "fit"),
    ("operators.similarity", "semantic_dedup", "dedup"),
    ("operators.maxsim", "build_token_index", "tok_index"),
    ("operators.maxsim", "write_token_table", "tok_table"),
    ("operators.bm25", "build_bm25_index", "bm25_build"),
    ("operators.bm25", "append_bm25_index", "bm25_append"),
    ("streaming.serving", "stage_batch_append_only", "stage"),
    ("streaming.serving", "reconcile_bm25_from_snapshot", "reconcile"),
    ("streaming.serving", "reconcile_index_from_snapshot", "reconcile"),
    ("streaming.serving", "ingest_batch", "ingest"),
    ("sources.writers", "publish_parquet_atomic", "publish"),
]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 2
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1]) if "=" in a else int(
                sys.argv[sys.argv.index(a) + 1]
            )
    names = [a for a in args if not a.isdigit()]
    if not names:
        raise SystemExit("usage: stagesplit.py <query> [...] [--runs N]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )

    evdir = f"/tmp/spark-events-stagesplit-{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)

    from mergers_acquisitions_predictions_spark.plans import QUERIES
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(
        app_name="stagesplit",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",  # parse offline as text
        },
    )
    sc = spark.sparkContext

    # --- wrap the eager stage functions: wall-time + job description.
    # Wrapped functions NEST (ingest_batch -> append_index;
    # reconcile -> append -> publish): the job
    # description is always refined to the INNERMOST label (finest
    # event-log attribution), but wall seconds are recorded only by
    # the OUTERMOST wrapped call so the per-phase splits partition the
    # total instead of double-counting.
    current: dict[str, float] = {}
    qname_box = [""]
    depth_box = [0]

    def _wrap(mod, fname: str, label: str) -> None:
        orig = getattr(mod, fname, None)
        if orig is None:
            return

        def wrapper(*a, __orig=orig, __label=label, **kw):
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"{qname_box[0]}|{__label}")
            outermost = depth_box[0] == 0
            depth_box[0] += 1
            t0 = time.perf_counter()
            try:
                return __orig(*a, **kw)
            finally:
                depth_box[0] -= 1
                if outermost:
                    current[__label] = round(
                        current.get(__label, 0.0)
                        + (time.perf_counter() - t0),
                        3,
                    )
                sc.setJobDescription(prev)

        setattr(mod, fname, wrapper)

    import importlib

    for mpath, fname, label in STAGED:
        mod = importlib.import_module(
            f"mergers_acquisitions_predictions_spark.{mpath}"
        )
        _wrap(mod, fname, label)
    # plan modules bind some names at import time — patch there too
    import mergers_acquisitions_predictions_spark.plans.io_queries  # noqa: F401

    def run(name: str) -> tuple[float, dict[str, float]]:
        current.clear()
        qname_box[0] = name
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        sc.setJobDescription(f"{name}|rest")
        df.write.format("noop").mode("overwrite").save()
        sc.setJobDescription(None)
        dt = round(time.perf_counter() - t0, 3)
        st = dict(current)
        st["rest"] = round(max(0.0, dt - sum(st.values())), 3)
        return dt, st

    results: dict[str, dict] = {}
    for name in names:
        run(name)  # warm (JIT/codegen; bench.py's convention)
        best, best_st = None, None
        for _ in range(runs):
            dt, st = run(name)
            if best is None or dt < best:
                best, best_st = dt, st
        results[name] = {"total": best, "wall": best_st}
    app_id = sc.applicationId
    spark.stop()

    # --- offline event-log parse: description -> task metric sums
    stage_to_desc: dict[int, str] = {}
    agg: dict[str, dict[str, float]] = {}
    # Spark 4 rolling layout: {evdir}/eventlog_v2_<appId>/events_*;
    # older single-file layout: {evdir}/<appId>[.inprogress]
    paths = glob.glob(f"{evdir}/eventlog_v2_{app_id}*/events*") + [
        p for p in glob.glob(f"{evdir}/{app_id}*") if os.path.isfile(p)
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description"
                    ) or "(unlabeled)"
                    for sid in ev.get("Stage IDs", []):
                        stage_to_desc.setdefault(sid, desc)
                elif et == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    desc = stage_to_desc.get(ev.get("Stage ID"), "(unlabeled)")
                    a = agg.setdefault(
                        desc,
                        {
                            "run": 0.0,
                            "cpu": 0.0,
                            "gc": 0.0,
                            "fetch": 0.0,
                            "spill": 0.0,
                            "sh_read": 0.0,
                            "sh_write": 0.0,
                            "tasks": 0,
                        },
                    )
                    a["tasks"] += 1
                    a["run"] += tm.get("Executor Run Time", 0) / 1e3
                    a["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["gc"] += tm.get("JVM GC Time", 0) / 1e3
                    srm = tm.get("Shuffle Read Metrics") or {}
                    a["fetch"] += srm.get("Fetch Wait Time", 0) / 1e3
                    a["sh_read"] += srm.get("Remote Bytes Read", 0) + srm.get(
                        "Local Bytes Read", 0
                    )
                    swm = tm.get("Shuffle Write Metrics") or {}
                    a["sh_write"] += swm.get("Shuffle Bytes Written", 0)
                    a["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )

    hdr = (
        f"{'phase':<28}{'tasks':>6}{'run_s':>9}{'cpu_s':>9}{'gc_s':>7}"
        f"{'fetch_s':>9}{'spill_MB':>10}{'shR_MB':>9}{'shW_MB':>9}"
    )
    print(hdr, file=sys.stderr)
    for desc in sorted(agg):
        a = agg[desc]
        print(
            f"{desc:<28}{a['tasks']:>6}{a['run']:>9.2f}{a['cpu']:>9.2f}"
            f"{a['gc']:>7.2f}{a['fetch']:>9.2f}"
            f"{a['spill'] / 1e6:>10.1f}{a['sh_read'] / 1e6:>9.1f}"
            f"{a['sh_write'] / 1e6:>9.1f}",
            file=sys.stderr,
        )
    for name in names:
        # note: the event-log aggregate covers ALL runs (warm + timed);
        # the wall splits are the MIN-total run's — read run/cpu as
        # per-phase RATIOS, not absolute per-run numbers.
        results[name]["metrics"] = {
            d.split("|", 1)[1]: {
                k: round(v, 2) for k, v in a.items() if k != "tasks"
            }
            for d, a in agg.items()
            if d.startswith(f"{name}|")
        }
        print(json.dumps({"query": name, **results[name], "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
