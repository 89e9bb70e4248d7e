"""One benchmark run: set up Spark, drive one workload through the public
entry points, check every turn against the oracle, and collect the
end-to-end metrics (untraced) or the per-layer metrics (traced).

Imported by ``run.py`` after it has put the checkout's root on
``sys.path`` and ``PYTHONPATH``, so both this process and the Spark Python
workers import the ``ocr_spark`` being measured.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import time

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import functions as F

from ocr_spark import datagen
from ocr_spark import session as session_mod
from ocr_spark.operators import ac_scan, cleaning, matching
from ocr_spark.operators import parse as parse_op
from ocr_spark.operators import quality as quality_op
from ocr_spark.plans import pipeline
from ocr_spark.sources import tables
from perfbench import oracle, procs, workloads
from perfbench.spans import Tracer

#: local[CPUS]: the width every workload runs at
CPUS = 4

#: the bounded end-to-end metrics (BENCHMARK.json end_to_end)
END_TO_END = {
    "turns_per_s": "1/s",
    "commit_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "tables.scan_s": "s",
    "parse.busy_s": "s",
    "parse.fail_frac": "ratio",
    "parse.blocks_kept": "count",
    "parse.blocks_dropped": "count",
    "cleaning.busy_s": "s",
    "cleaning.chars_kept_frac": "ratio",
    "quality.busy_s": "s",
    "quality.redo_frac": "ratio",
    "pipeline.second_pass_s": "s",
    "pipeline.second_pass_useful_frac": "ratio",
    "matching.spans_s": "s",
    "matching.spans_per_turn": "count",
    "ac_scan.spans_s": "s",
    "pipeline.plan_fixed_s": "s",
    "pipeline.python_stages": "count",
    "pipeline.exchanges": "count",
    "pipeline.resume_antijoin_s": "s",
    "pipeline.resume_keys_scanned": "count",
    "tables.write_s": "s",
    "tables.bytes_per_turn": "B",
    "pipeline.metrics_sidecar_s": "s",
    "trace.overhead_frac": "ratio",
    # plan building: mean self time of one call into the layer function
    "parse.build_s": "s",
    "cleaning.build_s": "s",
    "quality.build_s": "s",
    "matching.build_s": "s",
    "ac_scan.build_s": "s",
}

#: build-time metric -> the span of the layer function it averages
_BUILD_SPANS = {
    "parse.build_s": "parse.with_parsed",
    "cleaning.build_s": "cleaning.with_clean_text",
    "quality.build_s": "quality.with_quality",
    "matching.build_s": "matching.with_keyword_spans",
    "ac_scan.build_s": "ac_scan.with_keyword_spans_ac",
}

#: output columns the oracle gate and the per-layer counts read
CHECK_COLS = [
    "conv_id", "turn_idx", "clean_text", "status", "passes", "quality",
    "spans", "parse_ok", "blocks_kept", "blocks_dropped", "clean_stats",
]

_PYTHON_STAGE = re.compile(r"MapInPandas|MapInArrow|EvalPython|InPandas")


def noop(df) -> None:
    """Run ``df`` to completion into the ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest of p99.9/p99/p90/p50 with at
    least ten samples beyond it; None when there are too few samples."""
    xs = sorted(samples)
    for p in (99.9, 99.0, 90.0, 50.0):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, xs[min(len(xs) - 1, int(len(xs) * p / 100))]
    return None


def own_operators(plan: str) -> list[str]:
    """Operator lines of a physical plan string, without the subtrees of
    cached relations (the persisted input was computed by an earlier
    job)."""
    out, skip_below = [], None
    for ln in plan.splitlines():
        indent = len(ln) - len(ln.lstrip(" :+-"))
        if skip_below is not None and indent > skip_below:
            continue
        skip_below = indent if "InMemoryRelation" in ln else None
        out.append(ln)
    return out


def run_plan(df):
    """Execute ``df``'s own physical plan to completion, as the ``noop``
    sink would; return (rows, the executed plan with its SQL metrics)."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    return rows, qe.executedPlan()


def plan_nodes(plan, depth: int = 0):
    """(depth, node) for every node of an executed physical plan, through
    adaptive plans and query stages."""
    cls = plan.getClass().getSimpleName()
    yield depth, plan
    if cls == "AdaptiveSparkPlanExec":
        yield from plan_nodes(plan.executedPlan(), depth + 1)
    elif cls.endswith("QueryStageExec"):
        yield from plan_nodes(plan.plan(), depth + 1)
    children = plan.children()
    for i in range(children.size()):
        yield from plan_nodes(children.apply(i), depth + 1)


def metric(node, name: str) -> int:
    return node.metrics().apply(name).value()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


_T0 = time.perf_counter()


def log(*a) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s]", *a, file=sys.stderr, flush=True)


class Run:
    def __init__(self, args, root: str):
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.run_id = f"{self.wl.name}-s{args.seed}-p{os.getpid()}"
        self.bench_dir = os.path.join(root, "perfbench")
        self.work = os.path.join(self.bench_dir, ".work", self.run_id)
        self.tracer = Tracer(self.wl.name, self.run_id)
        self.tracer.enabled = bool(args.trace)
        self.vocab = datagen.vocabulary()
        self.spark = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.notes: dict[str, object] = {}
        self.wrong = 0
        self.attempted = 0

    # -- inputs and oracle (outside every timed region) ---------------------

    def prepare(self) -> None:
        inputs = os.path.join(self.bench_dir, ".inputs")
        self.paths = workloads.input_files(inputs, self.wl, self.args.seed, self.args.scale)
        self.keywords = oracle.normalize_keywords(self.wl.keywords(self.args.seed))
        self.noop_rows = 0

    def check(self) -> None:
        """The oracle gate, after Spark has stopped: every turn of the
        input files against the frozen single-process specs."""
        pdf = pd.concat([pd.read_parquet(p) for p in self.paths], ignore_index=True)
        keys = list(zip(pdf["conv_id"], pdf["turn_idx"].astype(int)))
        t0 = time.perf_counter()
        want = oracle.expectations(
            os.path.join(os.path.dirname(self.paths[0]), "oracle.json"),
            keys, list(pdf["text"]), self.keywords,
        )
        wrong, self.notes["quality_tie_turns"] = oracle.compare(want, self.actual)
        # rows written by the no-op re-run are duplicates as well
        self.wrong += wrong + self.noop_rows
        self.attempted = len(want)
        log(f"oracle over {len(keys)} turns in {time.perf_counter() - t0:.1f}s: {self.wrong} wrong")

    # -- helpers -------------------------------------------------------------

    def timed(self, name: str, fn):
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            return time.perf_counter() - t0, out

    def extract(self, df, keywords=True):
        return pipeline.extract(df, self.vocab, keywords=self.keywords if keywords else None)

    # -- set-up --------------------------------------------------------------

    def start_session(self) -> None:
        """Launch Spark at local[CPUS]; the time is session.start_s."""
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        # keep Spark's and the workers' scratch files inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = local
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        }
        t, self.spark = self.timed("session", lambda: session_mod.get_spark(
            f"local[{CPUS}]", app_name="perfbench", shuffle_partitions=CPUS,
            extra_conf=conf,
        ))
        self.layer["session.start_s"] = t

    def _check_worker_imports(self) -> None:
        """The Python workers must import the ocr_spark under measurement,
        not some other copy on the machine."""
        root = os.path.dirname(self.bench_dir)
        where = (
            self.spark.sparkContext.parallelize([0], 1)
            .map(lambda _: __import__("ocr_spark").__file__)
            .collect()[0]
        )
        if not os.path.abspath(where).startswith(root + os.sep):
            raise RuntimeError(f"Spark workers import ocr_spark from {where}, not {root}")

    def _collect(self, res) -> None:
        """Collect the checked columns of the workload's output. Not
        persisted: a cached copy would serve the timed passes."""
        self.res = res
        self.actual = res.select(*CHECK_COLS).toPandas()

    # -- batch workloads -------------------------------------------------------

    def batch(self) -> None:
        """The extract plan is built once and run into the noop sink:
        setup_s is session start through its first run; then it runs for
        --seconds. The output is collected for the oracle last."""
        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            self.start_session()
            self.inp = (
                tables.read_transcripts(self.spark, self.paths[0], fmt="parquet")
                .repartition(CPUS)
                .persist()
            )
            plan = self.job_plan = self.extract(self.inp)
            noop(plan)
            self.e2e["setup_s"] = time.perf_counter() - t0
        log(f"set up in {self.e2e['setup_s']:.2f}s")
        self._check_worker_imports()

        passes, traced = self._passes(lambda: noop(plan))
        log("passes", " ".join(f"{t:.2f}" for t in passes), "traced", traced)
        self.e2e["commit_p50_s"] = statistics.median(passes)
        self.samples = passes
        if traced:
            self._overhead(passes, traced)
        elif self.wl.name == "chat_mixed":
            self._scaling(statistics.median(passes))
        self._collect(plan)
        self.e2e["turns_per_s"] = len(self.actual) / statistics.median(passes)

    def _passes(self, job) -> tuple[list[float], list[float]]:
        """Run ``job`` until --seconds have passed. In a traced run, jobs
        alternate between recording spans and not, at least one of each;
        returns (untraced times, traced times)."""
        plain, traced = [], []
        deadline = time.perf_counter() + self.args.seconds
        while not (plain and time.perf_counter() >= deadline and (traced or not self.args.trace)):
            on = bool(self.args.trace) and len(plain) > len(traced)
            self.tracer.enabled = on
            dt, _ = self.timed("pass", job)
            (traced if on else plain).append(dt)
        self.tracer.enabled = bool(self.args.trace)
        return plain, traced

    def _overhead(self, plain: list[float], traced: list[float]) -> None:
        self.layer["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(plain) - 1
        )

    def _scaling(self, t4: float) -> None:
        """Weak scaling: a quarter of the input as one partition with the
        whole process tree pinned to one core, against the full input on
        CPUS cores (the timed passes). Both legs do the same work per
        core, so efficiency = t1 / t4 (1.0 is perfect)."""
        quarter = self.inp.limit(self.inp.count() // CPUS).coalesce(1).persist()
        quarter.count()
        plan = self.extract(quarter)
        noop(plan)  # compile the quarter's plan before timing, as for t4
        allowed = os.sched_getaffinity(0)
        procs.pin_tree({min(allowed)})
        try:
            t1, _ = self.timed("scaling.1core", lambda: noop(plan))
        finally:
            procs.pin_tree(allowed)
        quarter.unpersist()
        self.notes["scaling_eff_1to4"] = t1 / t4

    # -- incremental workload ----------------------------------------------------

    def incremental(self) -> None:
        """Closed loop, one client: land one parquet file, commit it with
        run_incremental, until every landing file is committed; then one
        re-run with nothing new. setup_s: session start through the first
        commit. Then workloads.WARMUP_COMMITS untimed commits, which the
        JVM's warm-up slows by up to a half, and workloads.COMMITS timed
        ones. A traced run, which must leave time for its probes, times two
        commits, the second with spans recorded, and commits the other
        files together untimed."""
        landing = os.path.join(self.work, "landing")
        results = os.path.join(self.work, "results")
        metrics = os.path.join(self.work, "metrics")
        os.makedirs(landing)

        def commit(path: str | None, run_id: str) -> int:
            if path:
                shutil.copy(path, landing)
            return pipeline.run_incremental(
                self.spark, landing, results, self.vocab, run_id=run_id,
                metrics_path=metrics, keywords=self.keywords,
            )

        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            self.start_session()
            first = commit(self.paths[0], "commit-0")
            self.e2e["setup_s"] = time.perf_counter() - t0
        log(f"set up in {self.e2e['setup_s']:.2f}s ({first} turns)")
        self._check_worker_imports()

        commits: list[tuple[float, int]] = []
        traced: list[float] = []
        warm = 1 + workloads.WARMUP_COMMITS
        for i, path in enumerate(self.paths[1:warm], 1):
            commit(path, f"warmup-{i}")
        rest = self.paths[warm:]
        timed = rest[:2] if self.args.trace else rest
        for i, path in enumerate(timed, 1):
            on = bool(self.args.trace) and i == 2
            self.tracer.enabled = on
            dt, n = self.timed("commit", lambda: commit(path, f"commit-{i}"))
            if on:
                traced.append(dt)
            else:
                commits.append((dt, n))
        self.tracer.enabled = bool(self.args.trace)
        if self.args.trace:
            for path in rest[2:]:
                shutil.copy(path, landing)
            commit(None, "commit-rest")
        log("commits", " ".join(f"{dt:.2f}" for dt, _ in commits), "traced", traced)
        # the no-op re-run: no new file lands, nothing may be written
        noop_s, self.noop_rows = self.timed("resume_noop", lambda: commit(None, "noop"))
        self._collect(self.spark.read.parquet(results))
        # reported, not gated: every commit after the first writes an empty
        # sidecar (its write to the results path re-caches the persisted
        # output, which the anti-join then empties)
        sidecar = self.spark.read.parquet(metrics).agg(F.sum("turns")).first()[0]
        self.notes["sidecar_turns_missing"] = len(self.actual) - sidecar

        times = [dt for dt, _ in commits]
        self.e2e["turns_per_s"] = sum(n for _, n in commits) / sum(times)
        self.e2e["commit_p50_s"] = statistics.median(times)
        self.e2e["resume_noop_s"] = noop_s
        self.samples = times
        if traced:
            self._overhead(times, traced)
            self.inp = self.spark.read.parquet(landing).persist()
            self.inp.count()
            self.job_plan = self.extract(pipeline.unprocessed(self.inp, self.res))

    # -- per-layer probes (traced run only) ---------------------------------------

    def probes(self) -> None:
        """Per-layer metrics, each by calling the layer's public function
        from outside the program on the persisted input or output."""
        L, inp, spark = self.layer, self.inp, self.spark
        scan_path = self.paths[0]
        L["tables.scan_s"], _ = self.timed(
            "probe.scan", lambda: tables.read_transcripts(spark, scan_path, fmt="parquet").count()
        )
        # cumulative prefix plans over the same persisted input
        parsed = parse_op.with_parsed(inp, text_col="text")
        cleaned = cleaning.with_clean_text(parsed, text_col="extracted")
        scored = quality_op.with_quality(cleaned, self.vocab, text_col="clean_text")
        base = self.extract(inp, keywords=False)
        native = matching.with_keyword_spans(
            base, self.keywords[: matching.AC_DISPATCH_THRESHOLD]
        )
        ac = ac_scan.with_keyword_spans_ac(base, self.keywords)
        t, executed = {}, {}
        for name, df in [("parse", parsed), ("clean", cleaned), ("score", scored),
                         ("extract", base), ("native_spans", native), ("ac_spans", ac)]:
            t[name], executed[name] = self.timed(f"probe.{name}", lambda df=df: run_plan(df))
        L["parse.busy_s"] = t["parse"]
        L["cleaning.busy_s"] = t["clean"] - t["parse"]
        L["quality.busy_s"] = t["score"] - t["clean"]
        L["pipeline.second_pass_s"] = t["extract"] - t["score"]
        L["matching.spans_s"] = t["native_spans"] - t["extract"]
        L["ac_scan.spans_s"] = t["ac_spans"] - t["extract"]
        L["pipeline.plan_fixed_s"], _ = self.timed(
            "probe.plan_fixed", lambda: noop(self.extract(inp.filter(F.col("turn_idx") < 0)))
        )
        self.plan = self.job_plan._jdf.queryExecution().executedPlan().toString()
        lines = own_operators(self.plan)
        L["pipeline.python_stages"] = sum(1 for ln in lines if _PYTHON_STAGE.search(ln))
        L["pipeline.exchanges"] = sum(1 for ln in lines if "Exchange" in ln)

        self.res = self.res.persist()
        self.res.count()  # materialize, so the write probes time only writing
        out = os.path.join(self.work, "probe_results")
        L["tables.write_s"], _ = self.timed(
            "probe.write", lambda: tables.write_results(self.res, out, fmt="parquet")
        )
        rows = len(self.actual)
        L["tables.bytes_per_turn"] = _dir_bytes(out) / rows
        side = os.path.join(self.work, "probe_metrics")
        L["pipeline.metrics_sidecar_s"], _ = self.timed(
            "probe.sidecar",
            lambda: pipeline.partition_metrics(self.res, "probe").write.parquet(side),
        )
        existing = spark.read.parquet(out)
        antijoin = pipeline.unprocessed(inp, existing)
        L["pipeline.resume_antijoin_s"], (left, joined) = self.timed(
            "probe.antijoin", lambda: run_plan(antijoin)
        )
        if left:
            log(f"anti-join against the full results left {left} turns")
            self.wrong += left
        # the input is cached, so the file scans read the results table
        L["pipeline.resume_keys_scanned"] = sum(
            metric(n, "numOutputRows") for _, n in plan_nodes(joined)
            if n.getClass().getSimpleName() == "FileSourceScanExec"
        )

        selfs = self.tracer.self_times()
        for name, span in _BUILD_SPANS.items():
            total, calls = selfs[span]
            L[name] = total / calls

        a = self.actual
        redo = int((a["passes"] == 2).sum())
        L["parse.fail_frac"] = float((~a["parse_ok"].astype(bool)).mean())
        L["parse.blocks_kept"] = int(a["blocks_kept"].sum())
        L["parse.blocks_dropped"] = int(a["blocks_dropped"].sum())
        kept = sum(s["total_clean_length"] for s in a["clean_stats"])
        orig = sum(s["total_original_length"] for s in a["clean_stats"])
        L["cleaning.chars_kept_frac"] = kept / orig
        L["quality.redo_frac"] = redo / rows
        # rows through the re-parse stage: of the two Python stages of the
        # extract plan without keywords, the one nearer the root
        stages = [(d, n) for d, n in plan_nodes(executed["extract"][1])
                  if _PYTHON_STAGE.search(n.nodeName())]
        through = metric(min(stages, key=lambda dn: dn[0])[1], "pythonNumRowsReceived")
        L["pipeline.second_pass_useful_frac"] = redo / through
        L["matching.spans_per_turn"] = float(a["spans"].map(len).mean())

    # -- the run -------------------------------------------------------------------

    def execute(self) -> None:
        os.makedirs(self.work)
        self.prepare()
        if self.args.trace:
            self.tracer.install()
        with procs.PeakRss() as rss:
            if self.wl.files == 1:
                self.batch()
            else:
                self.incremental()
            if self.args.trace:
                self.probes()
        self.e2e["peak_rss_mb"] = rss.peak_mb
        log(f"peak rss {rss.peak_mb:.0f} MB")
        self.tracer.uninstall()
        self.close()
        self.check()

    def close(self) -> None:
        """Stop Spark, then the JVM and every process below it (Python
        daemon and workers), waiting until all have ended."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None and jvm.poll() is None:
            procs.stop_tree(jvm.pid)
            jvm.wait()
        shutil.rmtree(self.work, ignore_errors=True)

    def report(self) -> dict:
        """Every metric by name and unit on stdout (the traced run also
        writes its spans and per-layer metrics under --trace-dir); returns
        the result object."""
        t = tail(self.samples)
        e = self.e2e
        rows = [
            ("turns_per_s", e["turns_per_s"], "1/s"),
            ("commit_p50_s", e["commit_p50_s"], "s"),
            ("commit_tail_s", f"p{t[0]:g}={t[1]:.6g}" if t else f"n/a ({len(self.samples)} jobs)", "s"),
            ("resume_noop_s", e.get("resume_noop_s", "n/a"), "s"),
            ("setup_s", e["setup_s"], "s"),
            ("peak_rss_mb", e["peak_rss_mb"], "MB"),
            ("turn_error_frac", self.wrong / self.attempted, "ratio"),
            ("scaling_eff_1to4", self.notes.get("scaling_eff_1to4", "n/a"), "ratio"),
        ]
        for note in ("quality_tie_turns", "sidecar_turns_missing"):
            if note in self.notes:
                rows.append((note, self.notes[note], "count"))
        if self.args.trace:
            rows += [(k, self.layer[k], u) for k, u in PER_LAYER.items()]
        print(f"# {self.wl.name} seed={self.args.seed} turns={self.attempted} "
              f"jobs={len(self.samples)} keywords={len(self.keywords)}")
        for k, v, u in rows:
            print(f"{k:<34} {v:>16.6g} {u}" if isinstance(v, float) else f"{k:<34} {v:>16} {u}")
        if self.args.trace:
            os.makedirs(self.args.trace_dir, exist_ok=True)
            base = os.path.join(self.args.trace_dir, self.run_id)
            self.tracer.write(base + ".spans.jsonl")
            with open(base + ".layers.json", "w") as f:
                json.dump({"per_layer": self.layer, "span_self_s": self.tracer.self_times(),
                           "job_plan": self.plan.splitlines()}, f, indent=1)
        names, src = (PER_LAYER, self.layer) if self.args.trace else (END_TO_END, self.e2e)
        return {
            "correct": self.wrong == 0,
            "attempted": self.attempted,
            "failed": self.wrong,
            "metrics": {k: {"value": src[k], "unit": u} for k, u in names.items()},
        }
