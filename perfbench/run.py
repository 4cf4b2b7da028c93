#!/usr/bin/env python3
"""Extraction-engine benchmark: extract / search / curate at local[nproc].

    python3 perfbench/run.py --workload extract|search|curate --seed N \\
        --seconds S --trace 0|1

Run from the repository root. One process, one Spark session at
``local[$(nproc)]``, one client thread. The seed makes the inputs: the
corpus (``corpus.py``, from ``seed % 2``, see ``fixtures.py``) and the
search queries; the program only sees the generated inputs.

A run: build the fixtures if the checkout has none yet (the first run builds
every corpus variant's, see ``fixtures.py``; untimed), start the session five
times (the median start plus the workload's warm-up is ``setup_s``), then
repeat the workload's operation for ``--seconds`` (at least once) with tracing
off, checking the output of every operation. ``--trace 1`` then restarts the
session with Spark's event log on and spans on the package's functions,
repeats the operation again (then runs the workload's ``ALSO_TRACED``
operations once), and reports the per-layer metrics plus
``trace.overhead_frac`` (traced median / untraced median - 1).

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the full record (hardware key, corpus
fingerprint, the workload's own named metrics), which is also appended to
``perfbench/.work/results.jsonl`` for ``compare.py``. Scratch data lives
under ``perfbench/.work/`` and is removed at exit, except the fixture
cache. ``layers.json`` maps each per-layer metric to the end-to-end
metric it should move.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURES = os.path.join(WORK, "fixtures")
PACKAGE = os.path.join(ROOT, "docling_rag_spark")
SESSION_STARTS = 5
DRIVER_MEMORY = "3g"


def _configure(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_MASTER", None)  # always local[nproc]
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
        + ["pyspark-shell"])


class Bench:
    def __init__(self, args, run_dir: str):
        from fixtures import Fixture
        from system import nproc

        self.seed = args.seed
        self.cores = nproc()
        self.run_dir = run_dir
        self.fixture = Fixture(FIXTURES, PACKAGE, args.seed)
        self.spark = None
        self.spans = None

    def start_session(self) -> float:
        import docling_rag_spark
        from docling_rag_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores)
        docling_rag_spark.ship(self.spark)
        return time.perf_counter() - t0

    def session(self):
        """The running session, started if there is none."""
        if self.spark is None:
            self.start_session()
        return self.spark

    def restart_with_event_log(self, log_dir: str) -> None:
        """Stop the session and start it again with the event log on. The
        conf goes in as JVM system properties, which a new SparkContext
        reads as launch defaults."""
        from pyspark import SparkContext

        self.spark.stop()
        os.makedirs(log_dir)
        props = SparkContext._jvm.java.lang.System
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", f"file://{log_dir}"),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            props.setProperty(k, v)
        self.start_session()


def _stop_jvm() -> None:
    """Stop the gateway JVM and wait until it and every process it started
    (the Python worker daemon and its workers) have ended."""
    from pyspark import SparkContext

    from system import descendants, wait_ended

    gw = SparkContext._gateway
    if gw is None:
        return
    started = descendants(os.getpid())
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_ended(started)


def _loop(w, seconds: float) -> tuple[list[dict], float]:
    """Repeat the operation for ``seconds`` (at least once), then on to the
    end of the workload's request mix (``w.CYCLE`` operations), so every
    run's median is over the same mix; an operation that raises counts as
    failed."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    while (not ops or len(ops) % w.CYCLE
           or time.perf_counter() - t0 < seconds):
        start = time.time()
        try:
            o = w.op(len(ops))
        except Exception:
            traceback.print_exc()
            o = {"s": time.time() - start, "ok": False, "mode": None}
        o["win"] = (start, time.time())
        ops.append(o)
    return ops, time.perf_counter() - t0


def run(args, run_dir: str) -> tuple[dict, dict]:
    import eventlog
    from fixtures import build_all
    from spans import Spans
    from system import PeakRSS, hardware_key
    from workloads import WORKLOADS

    bench = Bench(args, run_dir)
    build_all(FIXTURES, PACKAGE, bench.session, bench.cores)
    if bench.spark is not None:
        # a fixture was built: measure in a fresh JVM, as on a cache hit
        bench.spark.stop()
        _stop_jvm()
    w = WORKLOADS[args.workload](bench)
    w.prepare()
    starts = []  # the first start launches the JVM
    while len(starts) < SESSION_STARTS:
        if starts:
            bench.spark.stop()
        starts.append(bench.start_session())
    t0 = time.perf_counter()
    w.setup()
    warm_s = time.perf_counter() - t0
    setup_s = statistics.median(starts) + warm_s

    with PeakRSS() as rss:
        ops, elapsed = _loop(w, args.seconds)
    good = [o for o in ops if o["ok"]] or ops
    lat_ms = statistics.median(o["s"] for o in good) * 1000
    named = w.record(good)
    if args.workload == "search":
        named["searches_per_s"] = (len(ops) / elapsed, "1/s")
        rate = named["searches_per_s"][0]
    else:
        rate = named["docs_per_s"][0]
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (lat_ms, "ms"),
        "rate_per_s": (rate, "1/s"),
    }
    # peak RSS swings by 2x between runs of one seed (driver heap growth
    # follows GC timing), too unsteady for a bound: recorded, not gated
    named.update(setup_s=metrics["setup_s"], peak_rss_mb=(rss.peak_mb, "MB"),
                 failed_frac=(failed / attempted, "1"))

    layers = None
    if args.trace:
        w.close()
        log_dir = os.path.join(run_dir, "eventlog")
        bench.restart_with_event_log(log_dir)
        w.setup()
        bench.spans = Spans()
        with bench.spans.patched(w.SPANS):
            tops, _ = _loop(w, args.seconds)
        w.close()
        traced = [(w, tops)]
        for name in w.ALSO_TRACED:
            x = WORKLOADS[name](bench)
            x.prepare()
            x.setup()
            traced.append((x, _loop(x, 0)[0]))  # one operation
            x.close()
        bench.spark.stop()
        log = eventlog.read(log_dir)
        # layers no traced workload exercises did no work: 0
        layers = {name: 0.0 for name in _per_layer_units()}
        for x, xops in traced:
            attempted += len(xops)
            failed += sum(not o["ok"] for o in xops)
            layers.update(x.layers([o for o in xops if o["ok"]] or xops,
                                   log))
        tgood = [o for o in tops if o["ok"]] or tops
        layers["trace.overhead_frac"] = (
            statistics.median(o["s"] for o in tgood) * 1000 / lat_ms - 1)
    else:
        w.close()
        bench.spark.stop()

    record = {
        "time": dt.datetime.now(dt.timezone.utc).isoformat(),
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "hardware": hardware_key(),
        "corpus": {**bench.fixture.fingerprint(), "seed": bench.fixture.seed},
        "session_starts_s": starts, "warmup_s": warm_s,
        "ops": attempted, "failed": failed,
        "op_s": [o["s"] for o in ops],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "layers": layers,
    }
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    if layers is not None:
        units = _per_layer_units()
        out = {k: {"value": layers[k], "unit": units[k]} for k in units}
    return record, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": out}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _per_layer_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract", "search", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: no docling_rag_spark package under {ROOT}; run "
              "from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        _configure(run_dir)
        record, result = run(args, run_dir)
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    line = json.dumps({"record": record})
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
