"""Flagship quality-filter benchmark; BENCHMARK.json is its record.

    python3 perfbench/run.py --workload pages_html_kn --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --trace 1

Run from the repository root. Each run generates its workload's pages from
``--seed``, sets Spark up once from cold (``local[N]``, N = half the usable
cores, at most 2: JVM launch, model training, one warm-up pass over the
input), runs one untimed settle pass (the first pass after the warm-up
still spends a quarter more CPU on JIT compilation), then as many whole
timed passes as fit in ``--seconds`` (at least MIN_PASSES), then checks the
outputs against the row-wise oracle (check.py).

``docs_per_cpu_s`` is the docs of the timed passes over the CPU seconds the
whole process tree (driver, JVM, Python workers) spent on them. It is CPU
time, not wall time, because on a shared host the wall time also counts
time spent waiting for a core or stolen by the host: runs of the same code
read up to a third slower on wall time. Co-tenant load still slows the
cores themselves, so CPU time moves too, but less. The wall rate of the
fastest pass is printed beside it. ``peak_rss_mb`` is the median over the
timed passes of each pass's peak PSS. The JVM runs the serial collector,
which sizes its heap by occupancy: G1 grows the heap by GC pause times,
which made the JVM's resident memory of identical runs differ by a fifth.

The last stdout line is one JSON object: ``correct``, ``attempted`` and
``failed`` (docs) and ``metrics``: every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``. The lines before it
print each metric by name with its unit, the wall rate, the host noise
around the timed window (steal %, load average), the versions and the oracle
findings. A structural output-check violation or a failed pass exits 1.

The traced run (``--trace 1``) is separate from the measured one: it times
untraced passes first, then restarts the SparkContext with the event log on,
times each plan prefix and the full pass under ``layer:<name>`` job
descriptions, times the enrich kernels in-process, and folds the event log
into per-layer figures. tracing.LAYER_MAP records which end-to-end metric each
layer metric should move, and on which workload.

Seed 97 is held out: it was never run while the benchmark was tuned, so a
claimed gain must also hold on it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
MIN_PASSES = 3
MIN_ROUNDS = 2  # traced rounds
KERNEL_DOCS = 256
ARROW_BATCH = 1024  # session.py's maxRecordsPerBatch default
ORACLE_PROCS = min(4, len(os.sched_getaffinity(0)))


def _configure_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and make the package importable in the Python workers. The modules that
    import pyspark or the package are imported after this, inside the
    functions that use them."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    sys.path.insert(0, str(ROOT))


def _spark_conf(event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData -XX:+UseSerialGC"
        ),
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _commit() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One workload at one seed."""

    def __init__(self, name: str, seed: int, seconds: float, scale: float):
        import workloads as wl
        from language_identification_spark.fixtures import build_pages

        self.spec = wl.SPECS[name]
        self.seed, self.seconds = seed, seconds
        self.n_docs = max(64, round(self.spec.rows * scale))
        self.rows = build_pages(self.n_docs, seed)
        tag = f"s{seed}-n{self.n_docs}"
        self.path = wl.stage(self.rows, str(WORK / "inputs" / tag))
        self.oracle_path = str(WORK / "oracle" / f"{name}-{tag}.json")
        self.out_dir = str(WORK / "out" / f"{os.getpid()}-{name}")
        self.event_dir = str(WORK / "eventlog" / f"{os.getpid()}-{name}")
        self.spark = self.models = self.truth = self.outputs = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.phases: dict[str, float] = {}  # wall seconds per run phase

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(time.perf_counter() - t0, 3)

    # -- set-up -------------------------------------------------------------
    def _start(self, event_dir: str | None = None) -> float:
        import workloads as wl
        from language_identification_spark.operators.extract import extract_text_udf
        from language_identification_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", cores=wl.CORES, extra_conf=_spark_conf(event_dir)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        # A module-level pandas UDF caches its JVM function, and with it the
        # accumulator of the first SparkContext; after a restart every task
        # would fail to report to that closed accumulator server.
        extract_text_udf._unwrapped._judf_placeholder = None
        return time.perf_counter() - t0

    def setup(self) -> dict:
        """One cold set-up: JVM and session launch, model training, the
        warm-up pass."""
        import workloads as wl

        t0 = time.perf_counter()
        start = self._start()
        t1 = time.perf_counter()
        self.models = wl.train_models(self.spec)
        t2 = time.perf_counter()
        if self.spec.sink:
            self.warm_up()
        else:
            # the warm-up pass of a noop workload collects its results,
            # which are checked after the timed window
            self.attempted += self.n_docs
            self.outputs = wl.collect_outputs(
                self.spark, self.spec, self.path, self.models, self.out_dir
            )
        t3 = time.perf_counter()
        return {
            "setup_s": t3 - t0,
            "session.start_s": start,
            "model.train_s": t2 - t1,
            "warmup_s": t3 - t2,
        }

    def warm_up(self) -> None:
        """One untimed pass over the whole input: a slice leaves the JVM's
        compiled code too cold, and the timed passes then keep speeding up."""
        import workloads as wl

        wl.run_pass(self.spark, self.spec, self.path, self.models, self.out_dir)

    # -- timed passes -------------------------------------------------------
    def passes(
        self, seconds: float, span=None, min_passes: int = MIN_PASSES, rss=None
    ) -> dict[str, list[float]]:
        """Whole passes while one more, as long as the last, still fits in
        ``seconds``, and at least ``min_passes``: the wall seconds, the
        process-tree CPU seconds and, given an RssSampler, the peak PSS bytes
        of each."""
        import workloads as wl
        from tracing import tree_cpu_s

        walls: list[float] = []
        cpus: list[float] = []
        peaks: list[float] = []
        if rss is not None:
            rss.lap()
        t_end = time.perf_counter() + seconds
        while len(walls) < min_passes or time.perf_counter() + walls[-1] <= t_end:
            self.attempted += self.n_docs
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                if span is None:
                    wl.run_pass(self.spark, self.spec, self.path, self.models, self.out_dir)
                else:
                    with span("pass"):
                        wl.run_pass(
                            self.spark, self.spec, self.path, self.models, self.out_dir, span
                        )
            except Exception:  # a failed pass is counted, and the run goes on
                self.failed += self.n_docs
                self.errors.append(traceback.format_exc())
                if len(self.errors) >= MIN_PASSES:
                    break
                continue
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(os.getpid()) - c0)
            if rss is not None:
                peaks.append(rss.lap())
        return {"wall": walls, "cpu": cpus, "pss": peaks}

    # -- output check -------------------------------------------------------
    def oracle(self) -> None:
        """The oracle's answers, computed before Spark starts, so outside
        every timed window, on forked processes."""
        import workloads as wl
        from check import oracle

        with self.phase("oracle"):
            self.truth = oracle(
                self.spec, self.rows, wl.train_models(self.spec), self.oracle_path, ORACLE_PROCS
            )

    def check(self) -> dict:
        """Check outputs against the oracle, outside every timed window:
        the last pass's committed output for the sink workload, the warm-up
        pass's results otherwise."""
        import workloads as wl
        from check import check

        outputs = self.outputs
        if outputs is None:
            with self.phase("read_outputs"):
                outputs = wl.collect_outputs(
                    self.spark, self.spec, self.path, self.models, self.out_dir
                )
        result = check(self.rows, outputs, self.truth)
        self.failed += result["bad_docs"]
        return result

    # -- traced run pieces --------------------------------------------------
    def traced(self, tracer) -> None:
        """Rounds of each plan prefix under its layer tag plus one full pass
        (first in even rounds, last in odd ones), for the run's seconds and
        at least MIN_ROUNDS rounds."""
        import workloads as wl

        with tracer.span("warmup"):
            self.warm_up()
        t_end = time.perf_counter() + self.seconds / 2
        rounds = 0
        while time.perf_counter() < t_end or rounds < MIN_ROUNDS:
            if rounds % 2 == 0:
                self.passes(0, tracer.span, min_passes=1)
            for name in wl.stages(self.spec):
                with tracer.span(name):
                    wl.noop(wl.prefix(self.spark, self.spec, self.path, self.models, name))
            if rounds % 2 == 1:
                self.passes(0, tracer.span, min_passes=1)
            rounds += 1

    def kernels(self) -> dict:
        """The extract and enrich UDF bodies and the enrich kernels, timed
        in-process on the workload's own Arrow-sized batches (one core)."""
        import pandas as pd

        from language_identification_spark.operators.enrich import enrich_udf
        from language_identification_spark.operators.extract import extract_text_udf
        from language_identification_spark.oracle.extract import extract_text
        from language_identification_spark.oracle.quality import doc_stats

        sample = self.rows[:KERNEL_DOCS]
        n = len(sample)
        col = self.spec.text_col
        texts = [r[col] if col else extract_text(r["html"]) for r in sample]

        def batches(xs):
            return [pd.Series(xs[i : i + ARROW_BATCH]) for i in range(0, n, ARROW_BATCH)]

        def us_per_doc(fn) -> float:
            fn()  # warm the per-process caches, as a long-lived worker has them
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                reps.append(time.perf_counter() - t0)
            return 1e6 * _median(reps) / n

        nb, kn = self.models.nb, self.models.kn
        enrich = enrich_udf(self.spark, nb, kn).func
        langs = [lang for lang, _ in nb.detect_batch(texts)]
        out = {
            "extract.udf_us_per_doc": 0.0,
            "enrich.kn_ppl_us_per_doc": 0.0,
            "enrich.udf_us_per_doc": us_per_doc(lambda: list(enrich(iter(batches(texts))))),
            "enrich.doc_stats_us_per_doc": us_per_doc(lambda: [doc_stats(t) for t in texts]),
            "enrich.detect_batch_us_per_doc": us_per_doc(
                lambda: [nb.detect_batch(list(b)) for b in batches(texts)]
            ),
        }
        if col is None:
            html = [r["html"] for r in sample]
            out["extract.udf_us_per_doc"] = us_per_doc(
                lambda: list(extract_text_udf.func(iter(batches(html))))
            )
        if kn:
            scored = [(kn[lang], t) for t, lang in zip(texts, langs) if t and lang in kn]
            out["enrich.kn_ppl_us_per_doc"] = us_per_doc(
                lambda: [m.perplexity(t) for m, t in scored]
            )
        return out

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        for d in (self.out_dir, self.event_dir):
            shutil.rmtree(d, ignore_errors=True)


def _sink_files(out_dir: str) -> tuple[int, int]:
    n = size = 0
    for d in Path(out_dir).glob("bucket=*"):
        for f in d.glob("*.parquet"):
            n += 1
            size += f.stat().st_size
    return size, n


def run_untraced(b: Bench) -> dict:
    from tracing import HostWindow, RssSampler

    b.oracle()
    with b.phase("setup"):
        setup = b.setup()
    with b.phase("settle"):  # the JVM is still compiling
        b.passes(0, min_passes=1)
    with b.phase("timed"), HostWindow() as host, RssSampler() as rss:
        runs = b.passes(b.seconds, rss=rss)
    res = b.check()
    metrics = {
        "docs_per_cpu_s": b.n_docs * len(runs["cpu"]) / max(sum(runs["cpu"]), 1e-9),
        "setup_s": setup["setup_s"],
        "peak_rss_mb": _median(runs["pss"]) / 2**20,
        "keep_f1": res["keep_f1"],
        "text_exact_frac": res["text_exact_frac"],
        "score_agree_frac": res["score_agree_frac"],
    }
    return {
        "metrics": metrics,
        "check": res,
        "host": host.summary(),
        "passes": runs,
        "setup": setup,
    }


def run_traced(b: Bench) -> dict:
    from tracing import HostWindow, Tracer, fold_event_log

    import workloads as wl

    b.oracle()
    with b.phase("setup"):
        setup = b.setup()
    with b.phase("untraced"), HostWindow() as host:
        runs = b.passes(b.seconds / 2)
    untraced = runs["wall"]
    res = b.check()
    os.makedirs(b.event_dir, exist_ok=True)
    b._start(b.event_dir)
    app_id = b.spark.sparkContext.applicationId
    tracer = Tracer(b.spark.sparkContext)
    with b.phase("traced"):
        b.traced(tracer)
    with b.phase("kernels"):
        kernels = b.kernels()
    size, files = _sink_files(b.out_dir) if b.spec.sink else (0, 0)
    b.spark.stop()
    b.spark = None
    stats = fold_event_log(os.path.join(b.event_dir, app_id))
    tracer.write(str(WORK / "trace" / f"{b.spec.name}-s{b.seed}-{os.getpid()}.json"))

    med = lambda name: _median(tracer.durations(name))  # noqa: E731
    wall = med("pass")
    layer_s, prev = {"extract.s": 0.0}, 0.0
    for name in wl.stages(b.spec):
        layer_s[f"{name}.s"] = med(name) - prev
        prev = med(name)
    n_pass = max(len(tracer.durations("pass")), 1)
    if b.spec.sink:
        tags = ["layer:sink.crash", "layer:sink.resume", "layer:report"]
    else:
        tags = ["layer:full"]
    per = [stats[t] for t in tags if t in stats]
    total = lambda attr: sum(getattr(s, attr) for s in per) / n_pass  # noqa: E731
    sink = dict.fromkeys(
        ("sink.write_s", "sink.lineage_s", "sink.outside_exec_s", "report.s"), 0.0
    )
    # On the noop workloads the layer seconds add up to the last prefix,
    # which is the whole plan: coverage there only checks that the prefix
    # runs reproduce the pass, not how the seconds split between layers.
    covered = prev
    if b.spec.sink:
        # run_resumable's time: the SQL executions that run the pipeline
        # into parquet, the other executions (lineage read-back, _lineage
        # write) and the time outside any execution (planning, job
        # submission, manifest); the write executions' own cost is theirs
        # minus the noop prefix chain over the same rows.
        calls = [stats[t] for t in tags[:2] if t in stats]
        write = sum(s.exec_s for s in calls) / n_pass
        lineage = sum(s.other_exec_s for s in calls) / n_pass
        spans = med("sink.crash") + med("sink.resume")
        sink = {
            "sink.write_s": write - prev,
            "sink.lineage_s": lineage,
            "sink.outside_exec_s": spans - write - lineage,
            "report.s": med("report"),
        }
        # only the pieces measured directly count; the time outside any
        # execution is reported apart, as the unexplained share
        covered = write + lineage + sink["report.s"]
    skews = [s.task_skew() for s in per if s.udf_stage_tasks]
    metrics = {
        **{k: setup[k] for k in ("session.start_s", "model.train_s", "warmup_s")},
        **layer_s,
        **kernels,
        **sink,
        "shuffle.write_bytes": total("shuffle_write"),
        "shuffle.read_bytes": total("shuffle_read"),
        "py.worker_s": total("py_run_s"),
        "py.bytes_to_worker": total("py_to"),
        "py.bytes_from_worker": total("py_from"),
        "sink.bytes_written": size,
        "sink.files_written": files,
        "sink.out_bytes_per_doc": size / b.n_docs,
        "resume.recompute_ratio": total("py_rows") / b.n_docs,
        "exec.cpu_s": total("cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.spill_bytes": total("spill_bytes"),
        "task.skew": max(skews) if skews else 1.0,
        "layers.coverage": covered / wall if wall else 0.0,
        # fastest against fastest, as docs_per_s is taken
        "trace.overhead": min(tracer.durations("pass")) / min(untraced) if untraced else 0.0,
    }
    return {
        "metrics": metrics,
        "check": res,
        "host": host.summary(),
        "passes": runs,
        "setup": setup,
    }


def _declared(trace: int) -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def run_one(name: str, args) -> bool:
    import pyarrow
    import pyspark

    import workloads as wl

    b = Bench(name, args.seed, args.seconds, args.scale)
    try:
        out = (run_traced if args.trace else run_untraced)(b)
    finally:
        b.close()
    declared = _declared(args.trace)
    if set(out["metrics"]) != set(declared):
        raise SystemExit(
            f"metrics {sorted(out['metrics'])} differ from BENCHMARK.json {sorted(declared)}"
        )
    res, runs = out["check"], out["passes"]
    correct = not res["violations"] and not b.errors and b.failed == 0
    report = {
        "workload": name,
        "seed": args.seed,
        "trace": args.trace,
        "docs": b.n_docs,
        "passes": len(runs["wall"]),
        "pass_walls_s": [round(w, 4) for w in runs["wall"]],
        "pass_cpu_s": [round(c, 3) for c in runs["cpu"]],
        "pass_peak_pss_mb": [round(p / 2**20, 1) for p in runs["pss"]],
        "wall_docs_per_s": b.n_docs / min(runs["wall"]) if runs["wall"] else 0.0,
        "phases_s": b.phases,
        "setup_parts_s": {k: round(v, 3) for k, v in out["setup"].items()},
        "host": {
            **out["host"],
            "cores": wl.CORES,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "commit": _commit(),
        },
        "oracle": {
            k: res[k]
            for k in ("keep_f1", "text_exact_frac", "score_agree_frac", "reasons_agree_frac")
        },
        "failed_frac": b.failed / max(b.attempted, 1),
        "violations": res["violations"],
        "errors": [e.strip().splitlines()[-1] for e in b.errors],
    }
    findings = []
    if res["keep_f1"] < 0.99:
        findings.append(f"keep_f1 {res['keep_f1']:.4f} < 0.99 (north rule)")
    if res["text_exact_frac"] < 1.0:
        findings.append(f"text_exact_frac {res['text_exact_frac']:.4f}: text not byte-identical")
    if res["reasons_agree_frac"] < 1.0:
        share = 1 - res["reasons_agree_frac"]
        findings.append(f"drop_reasons differ from the oracle on {share:.2%} of docs")
    if args.trace:
        from tracing import LAYER_MAP

        report["layer_map"] = LAYER_MAP
        m = out["metrics"]
        if abs(m["layers.coverage"] - 1) > 0.1:
            msg = f"layer seconds are {m['layers.coverage']:.2f} of the pass wall time, not within 10%"
            if b.spec.sink:
                msg += (
                    f"; run_resumable spends {m['sink.outside_exec_s']:.2f} s a pass"
                    " outside any Spark execution"
                )
            findings.append(msg)
    report["findings"] = findings
    os.makedirs(WORK / "reports", exist_ok=True)
    with open(WORK / "reports" / f"{name}-s{args.seed}-t{args.trace}-{os.getpid()}.json", "w") as f:
        json.dump({**report, "metrics": out["metrics"]}, f, indent=1)
    for k, v in out["metrics"].items():
        print(f"[{name}] {k} = {v:.6g} {declared[k]}")
    print(f"[{name}] wall docs/s of the fastest pass = {report['wall_docs_per_s']:.6g}")
    print(json.dumps({"report": report}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(b.attempted, 1),
                "failed": b.failed,
                "metrics": {
                    k: {"value": v, "unit": declared[k]} for k, v in out["metrics"].items()
                },
            }
        ),
        flush=True,
    )
    return correct


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="docs_text | pages_html_kn | resume_write | all")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0, help="input-size multiplier (self-test smoke runs)"
    )
    args = p.parse_args(argv)

    _configure_env()
    import workloads as wl
    from tracing import reap_descendants

    names = list(wl.SPECS) if args.workload == "all" else [args.workload]
    if not set(names) <= set(wl.SPECS):
        p.error(f"unknown workload {args.workload!r}")
    ok = True
    try:
        for name in names:
            ok = run_one(name, args) and ok
    finally:
        _stop_jvm()
        reap_descendants()
    return 0 if ok else 1


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
