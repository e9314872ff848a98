"""The workloads. Each is a closed loop: one Spark application, one
client thread, every call waiting for the previous one, on
``local[nproc]``.

Every call into the package is made inside a span named after the
layer call (``measure.Tracer``) and timed from outside. Each operation
is verified after its timed region; a mismatch or an exception counts
as failed and its time stays in the samples.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import zlib

from measure import median, tail, tree_cpu_s

#: Session set-ups per run; ``setup_s`` is their median, a set-up in a
#: running JVM (the JVM launch falls in the first set-up or, in
#: ma_pipeline, in the reference pass before them).
SETUPS = 3

#: Work per run is fixed from ``--seconds`` at these rates, never cut
#: by the clock: the index workload's state grows every round, so a
#: clock-cut run would compare different states, and a fixed work list
#: keeps the op mix identical per seed. A second ma_pipeline pass per
#: run did not narrow the spread across seeds (the host's speed, not the
#: sample count, sets it) and costs 12 s a run.
MA_SECONDS_PER_PASS = 15.0
INDEX_SECONDS_PER_ROUND = 10.0

#: index_lifecycle re-issues this registry row each round: the
#: in-memory twin of its persisted ANN serve, built from the session
#: memo after its first run.
ROW = "s10_ivfsq_topk"

INDEX_QUERY_BATCHES = 1
INDEX_K = 10


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def units(seconds: int, per_unit: float) -> int:
    return max(1, round(seconds / per_unit))


def frame_digest(df) -> tuple[int, int]:
    """Order-insensitive (row count, hash) of a DataFrame."""
    from pyspark.ml.functions import vector_to_array
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        cols.append(vector_to_array(c) if isinstance(f.dataType, VectorUDT) else c)
    r = df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF))).first()
    return int(r[0]), int(r[1] or 0)


def rows_digest(rows) -> tuple[int, int]:
    """Order-insensitive (row count, hash) of collected rows."""
    return len(rows), sum(zlib.crc32(repr(tuple(r)).encode()) for r in rows)


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            out[p] = os.path.getsize(p)
    return out


class Bench:
    """One run's state: the session, the tracer, op samples, counters
    and the recorded expectations."""

    def __init__(self, tracer, work: str, nproc: int, extra_conf: dict):
        self.tracer = tracer
        self.work = work
        self.nproc = nproc
        self.extra_conf = extra_conf
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_s: dict[str, list] = {}   # end-to-end op latencies by kind
        self.op_cpu: dict[str, list] = {}  # the same ops' CPU seconds
        self.last_cpu = 0.0                # CPU seconds of the latest timed call
        self.layer: dict[str, list] = {}   # per-layer samples
        self.expected: dict = {}
        self.setup_s: list[float] = []
        self.control_s: list[float] = []
        self.report: dict = {}
        #: Reference pass: ops run and are verified (recording the
        #: expected values), but no timing or sample is kept.
        self.quiet = False

    # -- bookkeeping -------------------------------------------------
    def sample(self, name: str, value) -> None:
        if not self.quiet:
            self.layer.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def timed(self, span: str, fn):
        """Run ``fn`` inside ``span``; return (ok, result, seconds)."""
        with self.tracer.span(span):
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                out = fn()
                ok = True
            except Exception as e:  # the op failed: counted, time kept
                out, ok = None, False
                self.fail(f"{span}: {type(e).__name__}: {str(e)[:200]}")
            dt = time.perf_counter() - t0
            self.last_cpu = tree_cpu_s() - c0
        self.sample(span, dt)
        return ok, out, dt

    def op(self, span: str, fn, check=None, e2e: bool = True, kind: str | None = None):
        """One verified operation: ``fn`` timed, then ``check(result)``
        (untimed, in a ``bench.verify`` span) returning an error string
        or None. ``e2e`` ops count in the end-to-end latency under
        ``kind`` (default: the span name)."""
        self.attempted += 1
        ok, out, dt = self.timed(span, fn)
        if e2e and not self.quiet:
            self.op_s.setdefault(kind or span, []).append(dt)
            self.op_cpu.setdefault(kind or span, []).append(self.last_cpu)
        if ok and check is not None:
            with self.tracer.span("bench.verify"):
                try:
                    err = check(out)
                except Exception as e:
                    err = f"verify raised {type(e).__name__}: {str(e)[:200]}"
            if err:
                ok = False
                self.fail(f"{span}: {err}")
        return ok, out, dt

    def expect(self, key, value) -> str | None:
        """Record ``value`` the first time ``key`` is seen; afterwards
        return a mismatch message when it differs."""
        if key not in self.expected:
            self.expected[key] = value
            return None
        if self.expected[key] != value:
            return f"{key}: got {value}, recorded {self.expected[key]}"
        return None

    # -- session and host control -----------------------------------
    def start_session(self) -> None:
        from mergers_acquisitions_predictions_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=self.extra_conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.sample("session.start", time.perf_counter() - t0)

    def control(self) -> None:
        """The fixed CPU-only host control job."""
        from pyspark.sql import functions as F

        def job():
            return self.spark.range(0, 4_000_000, 1, self.nproc).select(
                F.sum(F.xxhash64("id").bitwiseAND(0xFFFF))).first()[0]

        ok, out, dt = self.timed("host.control", job)
        if ok:
            err = self.expect("host.control", out)
            if err:
                self.fail(err)
        self.control_s.append(dt)

    def busy_s(self) -> float:
        return sum(sum(v) for v in self.op_s.values())

    def busy_cpu_s(self) -> float:
        return sum(sum(v) for v in self.op_cpu.values())

    def setups(self, warm) -> None:
        """``SETUPS`` set-ups, each a fresh session plus the workload's
        warm-up."""
        for _ in range(SETUPS):
            with self.tracer.span("bench.setup"):
                t0 = time.perf_counter()
                self.start_session()
                warm()
                self.setup_s.append(time.perf_counter() - t0)

    def reference(self, fn) -> None:
        """Run ``fn`` once as the reference pass: every op verified and
        its expected values recorded, nothing timed. The timed ops then
        run in a warm JVM and are compared with these values."""
        with self.tracer.span("bench.reference"):
            t0 = time.perf_counter()
            if self.spark is None:
                self.start_session()
            self.quiet = True
            try:
                fn()
            finally:
                self.quiet = False
            self.report["reference_pass_s"] = time.perf_counter() - t0

    # -- results -----------------------------------------------------
    def e2e(self, work_per_cpu_s: float) -> dict:
        """End-to-end figures. ``op_cpu_ms`` is the geometric mean over
        op kinds of each kind's median CPU time, so every kind weighs the
        same whatever its share of the ops. Wall-clock latencies go to
        the report only: on a shared host they follow the hypervisor's
        steal, and spread across runs by 20-40% where CPU time spreads by
        7-12%. The tail goes to the report as well: at a run's sample
        count it sits near the median."""
        all_s = [v for vs in self.op_s.values() for v in vs]
        t = tail(all_s)
        self.report["op_p50_ms"] = 1e3 * geomean([median(v) for v in self.op_s.values() if v])
        self.report["op_p50_all_ms"] = 1e3 * median(all_s)
        self.report["op_tail_ms"] = (
            {"ms": 1e3 * t[0], "percentile": round(t[1], 1), "samples": t[2]} if t
            else {"ms": None, "samples": len(all_s)})
        self.report["op_kind_p50_ms"] = {k: round(1e3 * median(v), 1) for k, v in self.op_s.items()}
        self.report["op_kind_cpu_ms"] = {k: round(1e3 * median(v), 1) for k, v in self.op_cpu.items()}
        self.report["host_control_ms"] = [round(1e3 * v, 1) for v in self.control_s[-2:]]
        return {
            "setup_s": median(self.setup_s),
            "op_cpu_ms": 1e3 * geomean([median(v) for v in self.op_cpu.values() if v]),
            "work_per_cpu_s": work_per_cpu_s,
        }


# ---------------------------------------------------------------------------
# ma_pipeline
# ---------------------------------------------------------------------------

COMPANY_SCHEMA = ("cik string, ticker string, name string, sic string, exchange string, "
                  "business string, incorporated string, irs string")
DEAL_SCHEMA = ("acquirer_name string, target_name string, announce_date string, deal_type string, "
               "seller_name string, announced_total_value_mil double, payment_type string, "
               "deal_status string")
#: Caps the TF-IDF vocabulary. The pipeline counts 2- and 3-grams, so
#: the corpus has ~15k terms with document frequency >= 2 although it
#: draws on ~60 words; uncapped, one weighted-LR fit takes ~85 L-BFGS
#: iterations, and at this cap 20-35.
MA_VOCAB = 128
MA_TOP_PAIRS = 100


def ma_pipeline(b: Bench, inputs: str, sizes: dict, seconds: int) -> dict:
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.ml.classify import (
        confusion, evaluate_auc, train_weighted_lr)
    from mergers_acquisitions_predictions_spark.ml.tfidf import build_tfidf_pipeline
    from mergers_acquisitions_predictions_spark.pipeline import (
        label_filings, link_deals_to_companies, predict_pairs)
    from mergers_acquisitions_predictions_spark.sources.readers import read_csv

    n_filings = sizes["filings"][0]
    exp = sizes["expected"]

    def read_inputs(d):
        def read():
            s = b.spark
            return (read_csv(s, f"{d}/cik_master.csv", schema=COMPANY_SCHEMA),
                    read_csv(s, f"{d}/deals.csv", schema=DEAL_SCHEMA),
                    s.read.parquet(f"{d}/filings.parquet"))
        return b.timed("sources.read", read)[1]

    def warm():
        _companies, deals, _filings = read_inputs(inputs)
        link_deals_to_companies(deals, _companies, "acquirer_name").count()

    def materialize(df):
        df = df.persist()
        return df, df.count()

    def count_is(n, key):
        def check(out):
            df, got = out
            if got != n:
                return f"{key}: {got} rows, expected {n}"
            return b.expect(key, frame_digest(df))
        return check

    def one_pass(cached: list) -> None:
        """The paper's pipeline once, stopping at the first failed step."""
        companies, deals, filings = read_inputs(inputs)
        linked = {}
        for side in ("acquirer", "target"):
            ok, out, _ = b.op("pipeline.link", lambda: materialize(
                link_deals_to_companies(deals, companies, f"{side}_name")),
                count_is(exp[f"links_{side}"], f"link.{side}"))
            if not ok:
                return
            linked[side] = out[0]
            cached.append(out[0])
        ok, model, _ = b.op("tfidf.fit", lambda: build_tfidf_pipeline(
            min_df=2.0, vocab_size=MA_VOCAB).fit(filings),
            lambda m: b.expect("tfidf.vocab", len(m.stages[-2].vocabulary)))
        if not ok:
            return
        b.sample("tfidf.vocab_size", len(model.stages[-2].vocabulary))
        ok, out, _ = b.op("tfidf.transform", lambda: materialize(
            model.transform(filings).select("cik", "report_date", "tfidf")),
            count_is(n_filings, "tfidf.transform"))
        if not ok:
            return
        feats = out[0]
        cached.append(feats)
        scored = {}
        for side in ("acquirer", "target"):
            def label():
                df, n = materialize(label_filings(feats, linked[side])
                                    .withColumnRenamed("acquired", "label"))
                return df, n, df.where(F.col("label") == 1).count()

            def check_label(out):
                want = (n_filings, exp[f"positives_{side}"])
                if out[1:] != want:
                    return f"label.{side}: (rows, positives) = {out[1:]}, expected {want}"
                return None
            ok, out, _ = b.op("pipeline.label", label, check_label)
            if not ok:
                return
            labeled = out[0]
            cached.append(labeled)
            ok, trained, _ = b.op("classify.train", lambda: train_weighted_lr(labeled),
                                  lambda t: b.expect(f"train.{side}.iters",
                                                     t[0].summary.totalIterations))
            if not ok:
                return
            lr, _train, test = trained
            b.sample("classify.iterations", lr.summary.totalIterations)

            def evaluate():
                auc = evaluate_auc(lr, test)
                cm = {(r["label"], r["prediction"]): r["n"] for r in confusion(lr, test).collect()}
                return auc, cm

            def check_eval(out):
                auc = out[0]
                b.sample("classify.auc", auc)
                if not 0.5 < auc <= 1.0:
                    return f"auc.{side} = {auc} outside (0.5, 1]"
                return b.expect(f"eval.{side}", out)
            b.op("classify.eval", evaluate, check_eval)
            ok, out, _ = b.op("classify.score", lambda: materialize(lr.transform(labeled)),
                              count_is(n_filings, f"score.{side}"))
            if not ok:
                return
            scored[side] = out[0]
            cached.append(out[0])

        def check_pairs(rows):
            b.sample("pipeline.pairs_rows", len(rows))
            scores = [r["pair_score"] for r in rows]
            if not rows or scores != sorted(scores, reverse=True):
                return f"pairs: {len(rows)} rows, not a non-empty score-sorted list"
            return b.expect("pairs", rows_digest(rows))
        b.op("pipeline.predict", lambda: predict_pairs(
            scored["acquirer"], scored["target"], companies, top_k=MA_TOP_PAIRS).collect(),
            check_pairs)

    def run_pass() -> None:
        cached: list = []
        with b.tracer.span("bench.pass"):
            try:
                one_pass(cached)
            finally:
                for df in cached:
                    df.unpersist()

    # The reference pass comes first: it pays the JVM launch and the
    # compilation of every code path, so each set-up after it is alike.
    b.reference(run_pass)
    b.setups(warm)
    b.control()
    passes = units(seconds, MA_SECONDS_PER_PASS)
    for _ in range(passes):
        run_pass()
    b.control()
    busy, cpu = b.busy_s(), b.busy_cpu_s()
    b.report.update(ma_filings_per_s=n_filings * passes / busy, passes=passes,
                    lr_iterations=b.layer.get("classify.iterations"))
    return b.e2e(n_filings * passes / cpu)


# ---------------------------------------------------------------------------
# index_lifecycle
# ---------------------------------------------------------------------------

def index_lifecycle(b: Bench, inputs: str, sf: str, sizes: dict, seconds: int) -> dict:
    from mergers_acquisitions_predictions_spark.plans import QUERIES
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index, build_ivfsq_index, compact_if_accreted, index_accretion_stats,
        index_cell_stats, search_ivfsq_index)
    from mergers_acquisitions_predictions_spark.operators.bm25 import (
        append_bm25_index, build_bm25_index, search_bm25_index)
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        reconcile_index_from_snapshot)

    rounds = sizes["rounds"]
    shard_vectors, shard_docs = sizes["shard_vectors"], sizes["shard_docs"]
    batch = sizes["batch_size"]
    art = f"{b.work}/artifacts"
    ann, bm25 = f"{art}/ann", f"{art}/bm25"
    n_vec, n_doc = sizes["base_vectors"][0], sizes["base_docs"][0]
    written = [0]

    def snap_op(span, fn, check=None):
        """A non-serving op on the artifacts: count the bytes it wrote
        (files new or changed in size)."""
        before = dir_files(art)
        res = b.op(span, fn, check, e2e=False)
        after = dir_files(art)
        written[0] += sum(sz for p, sz in after.items() if before.get(p) != sz)
        return res

    def rows_are(fn, n, what):
        def check(_):
            got = fn()
            return None if got == n else f"{what}: {got} rows, expected {n}"
        return check

    def ann_rows():
        return index_cell_stats(b.spark, ann).groupBy().sum("n_rows").first()[0]

    def bm25_docs():
        return b.spark.read.parquet(f"{bm25}/stats").first()["nn"]

    def read(name):
        return b.spark.read.parquet(f"{inputs}/{name}.parquet")

    def search(kind, q):
        if kind == "ann_index.search":
            return search_ivfsq_index(b.spark, ann, read(f"queries_{q}_vectors"),
                                      k=INDEX_K).collect()
        return search_bm25_index(b.spark, bm25, read(f"queries_{q}_terms"),
                                 k=INDEX_K).collect()

    def run_row():
        """Construct the row's plan, then execute it. The executing
        action is the order-insensitive (count, hash) aggregate over
        every output column: like a noop write it computes every row
        and column, and it yields the verification digest in the same
        job instead of a second execution."""
        with b.tracer.span("plans.construct"):
            t0 = time.perf_counter()
            df = QUERIES[ROW](b.spark, sf)
            t1 = time.perf_counter()
        with b.tracer.span("plans.exec"):
            digest = frame_digest(df)
            t2 = time.perf_counter()
        b.sample("plans.construct_ms", 1e3 * (t1 - t0))
        b.sample("plans.exec_ms", 1e3 * (t2 - t1))
        return digest

    def row_op(first):
        """The registry row: its first run records the digest (untimed,
        like a set-up); later runs are serves checked against it."""
        _, _, dt = b.op("plans.row", run_row, lambda digest: b.expect(ROW, digest),
                        e2e=not first, kind=ROW)
        b.sample("plans.first_ms" if first else "plans.repeat_ms", 1e3 * dt)

    def warm():
        read("base_vectors").count()
        read("base_docs").count()

    b.setups(warm)
    shutil.rmtree(art, ignore_errors=True)
    _, _, t_ann = snap_op("ann_index.build", lambda: build_ivfsq_index(read("base_vectors"), ann),
                          rows_are(ann_rows, n_vec, "ann build"))
    _, _, t_bm = snap_op("bm25.build", lambda: build_bm25_index(read("base_docs"), bm25),
                         rows_are(bm25_docs, n_doc, "bm25 build"))
    row_op(True)

    def warm_serves():
        for kind in ("ann_index.search", "bm25.search"):
            b.op(kind, lambda: search(kind, 0),
                 lambda rows: None if rows else f"{kind}: no rows")
    # The first serves compile their code paths; they run untimed.
    b.reference(warm_serves)
    b.control()
    ingest_s: list[float] = []
    ingest_cpu: list[float] = []

    def ingest_op(span, fn, check):
        """A write of new rows: its time and CPU count in the ingest rate."""
        res = snap_op(span, fn, check)
        ingest_s.append(res[2])
        ingest_cpu.append(b.last_cpu)
        return res

    for r in range(rounds):
        with b.tracer.span("bench.round"):
            n_vec += shard_vectors
            n_doc += shard_docs
            ingest_op("ann_index.append", lambda: append_index(
                read(f"shard_{r}_vectors"), ann), rows_are(ann_rows, n_vec, f"ann append {r}"))
            ingest_op("bm25.append", lambda: append_bm25_index(
                read(f"shard_{r}_docs"), bm25), rows_are(bm25_docs, n_doc, f"bm25 append {r}"))
            pre = None
            for q in range(INDEX_QUERY_BATCHES):
                _, pre, _ = b.op("ann_index.search", lambda: search("ann_index.search", q),
                                 lambda rows: None if len(rows) == batch * INDEX_K
                                 else f"ann search: {len(rows)} rows, expected {batch * INDEX_K}")
                b.op("bm25.search", lambda: search("bm25.search", q),
                     lambda rows: None if 0 < len(rows) <= batch * INDEX_K
                     else f"bm25 search: {len(rows)} rows")
            b.sample("fs.files_per_cell_max",
                     index_accretion_stats(b.spark, ann)["max_files_per_cell"])
            _, out, _ = ingest_op("ann_index.compact", lambda: compact_if_accreted(b.spark, ann),
                                  rows_are(ann_rows, n_vec, f"compact {r}"))
            b.sample("ann_index.compact_fired", int(bool(out and out[0])))
            # the post-compact serve must equal the pre-compact serve
            want = rows_digest(pre or [])
            b.op("ann_index.search", lambda: search("ann_index.search", q),
                 lambda rows: None if rows_digest(rows) == want else "post-compact serve differs")
            row_op(False)
    # replaying the last shard through the staged reconcile finds nothing new
    _, n, _ = ingest_op("serving.reconcile", lambda: reconcile_index_from_snapshot(
        b.spark, ann, f"{inputs}/shard_{rounds - 1}_vectors.parquet"),
        lambda n: None if n == 0 else f"replayed reconcile appended {n} rows")
    b.sample("serving.reconciled_rows", n if n is not None else -1)
    b.control()

    files = dir_files(art)
    stored = sum(files.values())
    ingested = sizes["base_vectors"][1] + sizes["base_docs"][1] + sizes["append_shards"][1]
    appended = rounds * (shard_vectors + shard_docs)
    b.sample("fs.files_total", len(files))
    b.sample("fs.bytes_written_per_input_byte", written[0] / ingested)
    b.report.update(
        index_build_s=t_ann + t_bm,
        ingest_rows_per_s=appended / sum(ingest_s),
        serve_p50_ms=1e3 * median([v for vs in b.op_s.values() for v in vs]),
        bytes_stored_per_input_byte=stored / ingested,
        rounds=rounds,
    )
    return b.e2e(appended / sum(ingest_cpu))
