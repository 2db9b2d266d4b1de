#!/usr/bin/env python3
"""Repository benchmark: the parse -> enrich -> anonymize -> route ->
aggregate pipeline (``plans.pipeline.run_pipeline``) on seeded page mixes.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

One process, one SparkSession at local[4], a closed loop with one caller.
Buckets and task partitions are fixed (8 each). Sinks, shuffle and spill
directories and temp files live under ``perfbench/.work`` in the checkout.
The driver heap is pinned and pre-touched at 2g, and the JIT is C1-only
(see README.md).

Workloads:
  pipeline       default fixture mix, 1200 pages; every timed call is a
                 fresh full run into a new output root.
  resume_skewed  hostile mix (inputs.py), 1000 pages; every timed call
                 resumes a copy of the set-up's cut call.

Each run: inputs and oracle (cached per mix/size/seed), then set-up
(session start + one untimed warm-up call cut after half the buckets), then
timed calls until ``--seconds`` have passed (at least two). Every timed
call's outputs are checked against the reference-implementation oracle; a
failed check counts in ``failed`` and does not stop the run.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also writes the
Spark event log, makes isolated calls into each layer after the timed loop,
runs the driver-side kernel microbenchmark, and reports per-layer metrics.
The last stdout line is the JSON result; the lines before it are a readable
summary and a JSON detail record (per-call figures, host-noise probes).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median
from typing import Callable, Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
N_BUCKETS = 8
N_PARTS = 8
DRIVER_MEM = "2g"
MIN_CALLS = 2
WORKLOADS = {
    "pipeline": {"mix": "default", "pages": 1200},
    "resume_skewed": {"mix": "hostile", "pages": 1000},
}
END_TO_END = ("wall_s", "docs_per_s", "setup_s", "peak_rss_mb")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str, trace: bool) -> Dict[str, str]:
    """Process environment and extra Spark conf: everything inside ``work``,
    the repo importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseG1GC -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
        "-XX:TieredStopAtLevel=1 "
        f"-Djava.io.tmpdir={tmp}")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def _stop_spark() -> None:
    """Stop the session, if any, and wait for the driver JVM (and with it
    the Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def expected_sink_rows(sinks, ok_by_type: Dict[str, int]) -> Dict[str, int]:
    """``PipelineResult.per_sink_rows`` as the oracle predicts it."""
    per_table: Dict[str, int] = {}
    for s in sinks:
        if s.payload == "columns":
            per_table[s.table] = per_table.get(s.table, 0) + 1
    out = {}
    for s in sinks:
        shared = s.payload == "map" or per_table.get(s.table, 0) > 1
        key = f"{s.table}/log_type={s.log_type}" if shared else s.table
        out[key] = ok_by_type.get(s.log_type, 0)
    return out


def check_tables(out_root: str, oracle: dict) -> List[str]:
    """Sink tables vs oracle: rows per type, per-url hash XOR, rejects."""
    from probes import read_sink_digest

    got = read_sink_digest(out_root)
    problems = []
    want_rows = {k: v for k, v in oracle["ok_by_type"].items() if v}
    if got["rows"] != want_rows:
        problems.append(f"sink rows {got['rows']} != {want_rows}")
    zero = "0" * 16
    want_xor = {u: x for u, x in oracle["url_xor"].items() if x != zero}
    have_xor = {u: x for u, x in got["url_xor"].items() if x != zero}
    if have_xor != want_xor:
        bad = len(set(have_xor.items()) ^ set(want_xor.items()))
        problems.append(f"per-url hash64 XOR differs on {bad} entries")
    want_rej = oracle["lines"] - sum(oracle["ok_by_type"].values())
    if got["rejects"] != want_rej:
        problems.append(f"rejects {got['rejects']} != {want_rej}")
    return problems


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.calls: List[dict] = []
        self.failed = 0
        self.attempted = 0

    # ---- set-up ------------------------------------------------------------

    def prepare_inputs(self) -> None:
        from inputs import ensure_inputs

        t0 = time.perf_counter()
        self.pages_path, self.oracle = ensure_inputs(
            ROOT, os.path.join(HERE, ".cache"), self.spec["mix"],
            self.spec["pages"], self.args.seed, N_BUCKETS, workers=CORES)
        self.inputs_s = time.perf_counter() - t0

    def setup(self, conf: Dict[str, str]) -> None:
        from logparse_rs_spark.plans.pipeline import (PipelineConfig,
                                                      default_sinks,
                                                      run_pipeline)
        from logparse_rs_spark.schema import load_schema
        from logparse_rs_spark.session import get_spark

        schema_path = os.path.join(ROOT, "schemas", "schema.json")
        self.schema = load_schema(schema_path)
        sinks = default_sinks(self.schema)
        self.want_sink_rows = expected_sink_rows(
            sinks, self.oracle["ok_by_type"])

        def cfg(root: str) -> PipelineConfig:
            return PipelineConfig(
                schema_path=schema_path,
                anonymizer_path=os.path.join(ROOT, "configs",
                                             "anonymizer.sample.json"),
                out_root=root, sinks=sinks, n_buckets=N_BUCKETS,
                partitions_per_run=N_PARTS)

        self.cfg = cfg
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=CORES,
                               shuffle_partitions=N_PARTS, extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        self.pages = self.spark.read.parquet(self.pages_path)
        # warm-up: a call cut after half the buckets. On resume_skewed it
        # is the cut every timed call resumes (from a copy of its root).
        self.spark.sparkContext.setJobDescription("perfbench:warmup")
        self.base = os.path.join(self.work, "out", "base")
        cut = run_pipeline(self.spark, self.pages, cfg(self.base),
                           resume=True, max_buckets=N_BUCKETS // 2)
        self.spark.sparkContext.setJobDescription(None)
        self.warmup_timings = cut.timings
        self.cut_problems = [] if (
            cut.buckets_processed, cut.buckets_skipped) == (
            N_BUCKETS // 2, 0) else [
            f"cut call processed/skipped {cut.buckets_processed}/"
            f"{cut.buckets_skipped}"]
        self.setup_s = time.perf_counter() - t0

    # ---- timed calls -------------------------------------------------------

    def one_call(self, i: int, rss) -> dict:
        from logparse_rs_spark.plans.pipeline import run_pipeline

        root = os.path.join(self.work, "out", f"call{i}")
        resume = self.args.workload == "resume_skewed"
        problems: List[str] = []
        if resume:
            shutil.copytree(self.base, root)
            problems += self.cut_problems
        self.spark.sparkContext.setJobDescription(f"perfbench:call{i}")
        rss.window()
        t0_ms = time.time() * 1e3
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, self.pages, self.cfg(root),
                           resume=resume)
        wall = time.perf_counter() - t0
        t1_ms = time.time() * 1e3
        peak = rss.window()
        self.spark.sparkContext.setJobDescription(None)

        o = self.oracle
        if not resume:
            if res.status_counts != o["status"]:
                problems.append(f"status {res.status_counts} != {o['status']}")
            if res.per_sink_rows != self.want_sink_rows:
                problems.append(f"per_sink_rows {res.per_sink_rows} != "
                                f"{self.want_sink_rows}")
            if res.docs_in != o["docs"]:
                problems.append(f"docs {res.docs_in} != {o['docs']}")
        else:
            want = (N_BUCKETS - N_BUCKETS // 2, N_BUCKETS // 2)
            if (res.buckets_processed, res.buckets_skipped) != want:
                problems.append(
                    f"resume processed/skipped {res.buckets_processed}/"
                    f"{res.buckets_skipped} != {want[0]}/{want[1]}")
        problems += check_tables(root, o)
        call = {"wall_s": wall, "docs": res.docs_in, "lines": res.lines_in,
                "peak_rss_mb": peak / 2**20, "t0_ms": t0_ms, "t1_ms": t1_ms,
                "timings": res.timings, "run_id": res.run_id,
                "buckets_processed": res.buckets_processed,
                "root": root, "problems": problems}
        if self.trace:
            from probes import bucket_skew, listing
            call["bucket_skew"] = bucket_skew(root, res.run_id)
            call["listing"] = listing(root)
        return call

    def timed_loop(self, rss) -> None:
        t_start = time.perf_counter()
        i = 0
        while (len(self.calls) < MIN_CALLS
               or time.perf_counter() - t_start < self.args.seconds):
            self.attempted += 1
            try:
                call = self.one_call(i, rss)
            except Exception:
                _log(f"call {i} raised:\n{traceback.format_exc()}")
                self.failed += 1
                if self.attempted - len(self.calls) >= 2 * MIN_CALLS:
                    break  # the program keeps failing: stop the loop
            else:
                if call["problems"]:
                    self.failed += 1
                    _log(f"call {i} failed checks: {call['problems']}")
                self.calls.append(call)
                if i and not self.trace:
                    # keep the newest root only (trace reads the last one)
                    shutil.rmtree(self.calls[-2]["root"], ignore_errors=True)
            i += 1

    def end_to_end(self) -> Dict[str, float]:
        good = [c for c in self.calls if not c["problems"]] or self.calls
        return {
            "wall_s": median(c["wall_s"] for c in good),
            "docs_per_s": median(c["docs"] / c["wall_s"] for c in good),
            "setup_s": self.setup_s,
            # the calls' lowest peak: a transient burst of extra Python
            # workers in one call does not set the run's figure
            "peak_rss_mb": min(c["peak_rss_mb"] for c in good),
        }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_calls(bench: Bench) -> Dict[str, tuple]:
    """Isolated, labelled calls into each layer's public functions ->
    label: (t0_ms, t1_ms, seconds)."""
    from logparse_rs_spark.anonymizer import load_anonymizer
    from logparse_rs_spark.fixtures import DEFAULT_DIMS
    from logparse_rs_spark.operators.aggregates import report
    from logparse_rs_spark.operators.anonymize import audit_table
    from logparse_rs_spark.operators.enrich import enrich_with_lang
    from logparse_rs_spark.operators.parse import (explode_lines, parse_lines,
                                                   project_type)
    from logparse_rs_spark.plans.pipeline import STAGE_TABLE, with_bucket

    spark, schema, pages = bench.spark, bench.schema, bench.pages
    anon = load_anonymizer(os.path.join(ROOT, "configs",
                                        "anonymizer.sample.json"))
    dims = list(DEFAULT_DIMS)
    spans: Dict[str, tuple] = {}

    def timed(label: str, fn: Callable[[], object]) -> None:
        spark.sparkContext.setJobDescription(f"perfbench:{label}")
        t0_ms, t0 = time.time() * 1e3, time.perf_counter()
        fn()
        spans[label] = (t0_ms, time.time() * 1e3, time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)

    timed("sources.scan_bucket", lambda: _noop(
        with_bucket(pages, N_BUCKETS).repartition(N_PARTS, "bucket")))
    timed("parse.explode", lambda: _noop(explode_lines(pages)))
    exploded_path = os.path.join(bench.work, "exploded")
    explode_lines(pages).write.parquet(exploded_path)
    exploded = spark.read.parquet(exploded_path)
    timed("parse.parse_lines", lambda: _noop(parse_lines(exploded, schema)))
    stage = spark.read.parquet(
        os.path.join(bench.calls[-1]["root"], STAGE_TABLE))
    timed("anonymize.project", lambda: _noop(project_type(
        stage, schema, "TRAFFIC", columns=dims, anon=anon)))
    traffic = project_type(stage, schema, "TRAFFIC", columns=dims)
    timed("anonymize.audit", lambda: _noop(audit_table(traffic, anon, dims)))
    timed("enrich.lang_join", lambda: _noop(
        enrich_with_lang(stage.filter("status = 'ok'"), spark)))
    timed("aggregates.report", lambda: report(stage, traffic))
    return spans


def per_layer(bench: Bench, spans: Dict[str, tuple], kernels: Dict,
              ) -> Dict[str, float]:
    from eventlog import EventLog

    log = EventLog.from_dir(os.path.join(bench.work, "events"))
    calls = [c for c in bench.calls if not c["problems"]] or bench.calls
    m: Dict[str, float] = {}

    def med(key: str, values) -> None:
        m[key] = median(values)

    tm = [c["timings"] for c in calls]
    med("pipeline.stage_write_s", (t["stage_write"] for t in tm))
    med("pipeline.sink_writes_s", (t["sink_writes"] for t in tm))
    med("pipeline.ledger_s", (t["ledger"] for t in tm))
    med("pipeline.other_s", (c["wall_s"] - c["timings"]["stage_write"]
                             - c["timings"]["sink_writes"]
                             - c["timings"]["ledger"] for c in calls))
    for lbl in ("sink_fact", "sink_other", "rejects", "fine_stats", "audit"):
        med(f"pipeline.sink.{lbl}_s", (t[f"sink:{lbl}"] for t in tm))
    jobs = [log.jobs_between(c["t0_ms"], c["t1_ms"]) for c in calls]
    by_table = [log.task_s_by_table(j) for j in jobs]
    for table in ("_parsed_stage", "sink_fact", "sink_other", "_rejects",
                  "_audit"):
        med(f"pipeline.sink.{table.lstrip('_')}.task_s",
            (bt.get(table, 0.0) for bt in by_table))
    med("pipeline.task_skew", (log.task_skew(j, "_parsed_stage")
                               for j in jobs))
    med("pipeline.bucket_skew", (c["bucket_skew"] for c in calls))
    med("pipeline.buckets_replayed", (c["buckets_processed"] for c in calls))
    med("sources.writers.files", (c["listing"]["files"] for c in calls))
    med("sources.writers.bytes", (c["listing"]["bytes"] for c in calls))
    counters = [log.engine_counters(j) for j in jobs]
    for key in ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes"):
        med(f"spark.{key}", (c[key] for c in counters))

    for label, (_, _, secs) in spans.items():
        m[f"{label}_s"] = secs
    py = log.python_metrics(log.jobs_between(*spans["parse.parse_lines"][:2]))
    m["parse.python_total_s"] = py["total_s"]
    m["parse.python_init_s"] = py["init_s"]
    m["parse.python_bytes_sent"] = py["bytes_sent"]
    m["parse.python_bytes_returned"] = py["bytes_returned"]
    m["parse.python_rows"] = py["rows"]
    for name, rate in kernels.items():
        m[f"kernels.{name}_rows_per_s"] = rate
    return m


def _units() -> Dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def _sample_lines(pages_path: str, limit: int = 20000) -> List[str]:
    import pyarrow.parquet as pq

    lines: List[str] = []
    for text in pq.read_table(pages_path, columns=["text"]).column(
            "text").to_pylist():
        lines.extend(text.split("\n"))
        if len(lines) >= limit:
            break
    return lines[:limit]


def run(args, work: str) -> int:
    sys.path.insert(0, ROOT)
    from bench import weather_probe  # host-noise probe, bench.py unmodified
    from probes import RssSampler, cpu_steal, kernel_rates

    weather = {"start": weather_probe()}
    steal0 = cpu_steal()
    bench = Bench(args, work)
    bench.prepare_inputs()
    conf = _prepare_env(work, bench.trace)
    with RssSampler() as rss:
        try:
            bench.setup(conf)
            bench.timed_loop(rss)
            if not bench.calls:
                _log("no call completed; no result")
                return 1
            t0 = time.perf_counter()
            spans = layer_calls(bench) if bench.trace else {}
            trace_s = time.perf_counter() - t0
        finally:
            _stop_spark()
    e2e = bench.end_to_end()
    layers: Dict[str, float] = {}
    if bench.trace:
        t0 = time.perf_counter()
        kernels = kernel_rates(_sample_lines(bench.pages_path))
        layers = per_layer(bench, spans, kernels)
        layers["trace.extra_s"] = trace_s + time.perf_counter() - t0
    steal1 = cpu_steal()
    weather["end"] = weather_probe()
    weather["cpu_steal_frac"] = ((steal1["steal"] - steal0["steal"])
                                 / max(steal1["total"] - steal0["total"], 1))

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "mix": bench.spec["mix"], "pages": bench.spec["pages"],
        "lines": bench.oracle["lines"], "cores": CORES,
        "n_buckets": N_BUCKETS, "partitions": N_PARTS,
        "inputs_s": bench.inputs_s, "session_s": bench.session_s,
        "warmup_timings": bench.warmup_timings,
        "weather_probe_s": weather,
        "calls": [{k: c[k] for k in ("wall_s", "docs", "peak_rss_mb",
                                     "timings", "problems")}
                  for c in bench.calls],
    }
    cache = os.path.join(HERE, ".cache", "untraced",
                         f"{args.workload}_s{args.seed}.json")
    if bench.trace and os.path.exists(cache):
        with open(cache) as f:
            untraced = json.load(f)
        detail["overhead_vs_untraced"] = {
            k: e2e[k] - untraced[k] for k in END_TO_END}
    elif not bench.trace:
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump(e2e, f)

    units = _units()
    for k in END_TO_END:
        print(f"{k}: {e2e[k]:.4f} {units[k]}")
    print(f"failed_frac: {bench.failed / bench.attempted:.4f} "
          f"({bench.failed}/{bench.attempted})")
    for k, v in sorted(layers.items()):
        print(f"{k}: {v:.6g} {units[k]}")
    print(json.dumps(detail))
    metrics = layers if bench.trace else e2e
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        _log(f"non-finite metrics {bad}; no result")
        return 1
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0


def _become_subreaper() -> None:
    """Adopt orphaned descendants (e.g. Python workers whose JVM exited) so
    that ``_reap_descendants`` can stop and wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap_descendants(grace_s: float = 15.0) -> None:
    """Stop every process this run started that is still alive, and wait
    for each: SIGTERM, then SIGKILL after ``grace_s``."""
    from inputs import stop_resource_tracker
    from probes import children_map

    stop_resource_tracker()
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    logged = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = children_map().get(me, [])
        if not kids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        if sig != logged:
            _log(f"stopping leftover processes {kids} ({sig.name})")
            logged = sig
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _reap_stale(base: str) -> None:
    """Remove work dirs of runs whose process is gone."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        try:
            os.kill(int(name.split("-", 1)[1]), 0)
        except (IndexError, ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except PermissionError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("logparse_rs_spark/plans/pipeline.py", "bench.py",
                 "schemas/schema.json", "configs/anonymizer.sample.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _log(f"{need} not found next to perfbench/: run from a checkout "
                 "of the repository")
            return 2
    _become_subreaper()
    base = os.path.join(HERE, ".work")
    _reap_stale(base)
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        _reap_descendants()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
