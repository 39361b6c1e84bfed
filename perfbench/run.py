"""Repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload ingest_fast --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from ``--seed``
inside ``.perfbench/`` (the work directory), sets up a local Spark session on
every usable core several times (the median is ``setup_s``), then repeats the
workload's pass for ``--seconds`` and checks every output. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` prints the per-layer metrics of
a run with the Spark event log, spans and the kernel replay on. The last
stdout line is the result object; a record of the run (host tags, samples,
failures) and, when traced, its spans are written under
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the benchmark's own modules import no program code at import time: the
# program's session module reads the driver heap from the environment when
# it is imported, so program imports wait until _configure_env has run
from perfbench import eventlog, host, layers  # noqa: E402
from perfbench.stats import median  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import RARE_ID, WORKLOADS, CheckFailed, token_table_facts  # noqa: E402

PACKAGE = "poc_parquet_aggregator_spark"
WORK = os.path.join(ROOT, ".perfbench")

SETUP_REPS = 2
# each of a traced run's two segments
SEGMENT_MIN_PASSES = 2
T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(run_dir: str, heap_mb: int, cores: int) -> None:
    """Must run before the program's session module is imported: it reads
    the driver heap from the environment at import time."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # as bench.py sets them for encode runs: the Python workers keep large
    # buffers instead of unmapping them and faulting them in again
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def _session_conf(run_dir: str, eventlog_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                # plain JSON lines: 4.1 compresses and rolls by default
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Bench:
    """State of one run: session, tracer, samples, failure counts."""

    def __init__(self, args, workload, run_dir: str, cores: int) -> None:
        self.args = args
        self.wl = workload
        self.run_dir = run_dir
        self.cores = cores
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rows: dict[str, int] = {}
        self.setup_spans = 0

    # -- session --------------------------------------------------------
    def start_session(self, eventlog_dir: str | None = None) -> None:
        from poc_parquet_aggregator_spark.plans import get_spark

        with self.tracer.span("plans.get_spark"):
            self.spark = get_spark(
                "perfbench", cores=self.cores,
                extra_conf=_session_conf(self.run_dir, eventlog_dir),
            )
        self.tracer.attach(self.spark)

    def restart(self, inputs, eventlog_dir: str | None = None) -> None:
        """A fresh session (new Python workers), warmed like after set-up."""
        self.stop_session()
        self.start_session(eventlog_dir)
        self.wl.warm(self.spark, self.tracer, inputs)
        self.run_warm_passes(inputs)

    def stop_session(self) -> None:
        from poc_parquet_aggregator_spark.plans import stop_spark

        self.tracer.attach(None)
        stop_spark()
        self.spark = None

    # -- operations -----------------------------------------------------
    def run_op(self, op, tracer, op_key: str):
        """One attempted operation: untimed ``before``, timed ``call``,
        untimed ``check``. Returns the seconds taken, or None on failure."""
        self.attempted += 1
        try:
            if op.before:
                op.before()
            with tracer.span(op.name, op=op_key) as sp:
                result = op.call()
            op.check(result)
        except CheckFailed as e:
            return self._fail(op_key, f"wrong output: {e}")
        except Exception:  # a failing program op is counted, not fatal
            return self._fail(op_key, traceback.format_exc())
        if isinstance(result, int):
            self.rows[op.name] = result
        elif isinstance(result, list):
            self.rows[op.name] = len(result)
        return sp["end"] - sp["start"]

    def _fail(self, op_key: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op_key}: {why}")
        print(f"perfbench: {op_key} failed: {why}", file=sys.stderr)
        return None

    # -- phases ---------------------------------------------------------
    def setup(self, seed: int) -> tuple[list[float], object]:
        """Set up SETUP_REPS times (session start, input generation,
        workload preparation, warm-up); the last set-up stays live."""
        from poc_parquet_aggregator_spark.sources import write_token_table

        times, inputs = [], None
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.stop_session()
            if inputs is not None:
                shutil.rmtree(inputs.path, ignore_errors=True)
            path = os.path.join(self.run_dir, f"input_{rep}")
            t0 = time.perf_counter()
            self.start_session()
            with self.tracer.span("sources.write_token_table"):
                write_token_table(path, self.wl.n_docs, seed=seed, docs_per_file=self.wl.docs_per_file)
            inputs = token_table_facts(path, seed)
            self.wl.prepare(self.spark, self.tracer, inputs)
            if self.wl.fresh_session_after_prepare:
                self.stop_session()
                self.start_session()
            self.wl.warm(self.spark, self.tracer, inputs)
            times.append(time.perf_counter() - t0)
            _log(f"set-up {rep + 1}/{SETUP_REPS}: {times[-1]:.2f}s")
        self.setup_spans = len(self.tracer.spans)
        return times, inputs

    def run_warm_passes(self, inputs) -> None:
        """Untimed passes, checked and counted like the timed ones: the JVM
        compiles each op's plan, and keeps compiling hot code, during the
        first passes after a session starts."""
        for n in range(self.wl.warm_passes):
            for op in self.wl.pass_ops(self.spark, inputs):
                self.run_op(op, Tracer(enabled=False), f"warm.{op.name}#{n}")

    def measure(
        self, inputs, seconds: float, tracer, rss=None, min_passes: int | None = None
    ) -> dict[str, list[float]]:
        """Repeat the pass for ``seconds``, at least ``min_passes`` times
        (the workload's by default). ``rss`` (host.PeakRss) is cut per
        pass."""
        if min_passes is None:
            min_passes = self.wl.min_passes
        samples: dict[str, list[float]] = {}
        deadline = time.perf_counter() + seconds
        n = 0
        while n < min_passes or time.perf_counter() < deadline:
            for op in self.wl.pass_ops(self.spark, inputs):
                dt = self.run_op(op, tracer, layers.op_id(op.name, n))
                if dt is not None:
                    samples.setdefault(op.name, []).append(dt)
            if rss is not None:
                rss.cut()
            n += 1
        _log(f"measured {n} passes")
        return samples

    def final_checks(self, inputs, tracer) -> dict[str, float]:
        took = {}
        for op in self.wl.final_checks(self.spark, tracer, inputs):
            dt = self.run_op(op, tracer, op.name)
            if dt is not None:
                took[op.name] = dt
        return took

    def run_layer_ops(self, inputs) -> tuple[dict[str, list[float]], list]:
        """The workload's layer ops, traced. Returns the seconds of each
        op name's reported calls (all but the first) and the (op id, start,
        end) of those calls."""
        took: dict[str, list[float]] = {}
        spans = []
        seen: dict[str, int] = {}
        for op in self.wl.layer_ops(self.spark, inputs):
            k = seen.get(op.name, 0)
            seen[op.name] = k + 1
            key = layers.op_id(op.name, k)
            first = len(self.tracer.spans)
            dt = self.run_op(op, self.tracer, key)
            if dt is not None and k > 0:
                took.setdefault(op.name, []).append(dt)
                sp = self.tracer.spans[first]
                spans.append((key, sp["start"], sp["end"]))
        return took, spans


def _pass_s(samples: dict[str, list[float]]) -> float:
    return sum(median(v) for v in samples.values())


def _end_to_end(bench: Bench, setup_times, samples, inputs) -> dict:
    main = samples[bench.wl.main_op]
    return {
        "setup_s": median(setup_times),
        "tokens_per_s": inputs.n_tokens / median(main),
        "pass_s": _pass_s(samples),
        "ratio_vs_parquet_zstd": bench.wl.ratio(),
    }


def _traced(bench: Bench, inputs) -> dict:
    """Two segments of the window: untraced in the set-up session, then
    traced in a fresh session with the event log on, spans and job
    descriptions recorded, and the same warm-up. The overhead compares the
    two. The traced session also runs the workload's layer ops. Then the
    event-log parse and the kernel replay."""
    from perfbench.replay import replay_kernels  # imports the program
    from poc_parquet_aggregator_spark.encode import read_manifest, token_read_stats

    seg = bench.args.seconds / 2
    untraced = bench.measure(inputs, seg, Tracer(enabled=False), min_passes=SEGMENT_MIN_PASSES)
    evdir = os.path.join(bench.run_dir, "eventlog")
    bench.restart(inputs, eventlog_dir=evdir)
    first_span = len(bench.tracer.spans)
    with host.PeakRss() as rss:
        traced = bench.measure(inputs, seg, bench.tracer, rss, min_passes=SEGMENT_MIN_PASSES)
    pass_spans = bench.tracer.spans[first_span:]
    checks = bench.final_checks(inputs, bench.tracer)
    layer_took, layer_spans = bench.run_layer_ops(inputs)
    out_dir = bench.wl.out_dir()
    manifest_s, files_kept = [], 0
    if bench.wl.name == "read_mix":
        for _ in range(5):
            with bench.tracer.span("read.manifest") as sp:
                read_manifest(out_dir)
            manifest_s.append(sp["end"] - sp["start"])
        files_kept = token_read_stats(out_dir, RARE_ID)["files_kept"]
    bench.stop_session()  # flushes the event log
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {evdir}, found {logs}")
    events = eventlog.parse_file(logs[0])
    op_spans = [
        (s["op"], s["start"], s["end"])
        for s in pass_spans
        if s["op"] is not None and layers.split_op_id(s["op"])[1] is not None
        and s["name"] == layers.split_op_id(s["op"])[0]
    ]
    with bench.tracer.span("replay.kernels"):
        replay = replay_kernels(inputs.path, bench.wl.zstd_level)

    m = {name: 0.0 for name in layers.PER_LAYER}
    for name in ("plans.get_spark", "sources.write_token_table", "setup.warm"):
        m[name + "_s"] = median(bench.tracer.durations(name, upto=bench.setup_spans))
    m.update(layers.encode_split(events, op_spans))
    m.update(layers.store_layer(out_dir))
    m.update(layers.spark_layer(events, op_spans, bench.cores))
    m.update(layers.salted_layer(events, layer_spans, bench.wl.salted_result))
    m.update(layers.query_layer(layer_took))
    m.update({k: replay[k] for k in layers.REPLAY})
    if bench.wl.name == "read_mix":
        m.update(layers.read_layer(events, traced, bench.rows))
        m["read.manifest_s"] = median(manifest_s)
        m["read.files_kept"] = files_kept
    m["verify.decode_verify_s"] = checks.get("decode_verify", 0.0)
    m["trace.overhead_frac"] = _pass_s(traced) / _pass_s(untraced) - 1.0
    m["mem.peak_rss_mb"] = median(rss.peaks_mb)
    m["trace.n_spans"] = len(bench.tracer.spans)
    m["check.ops_failed_frac"] = bench.failed / bench.attempted
    return m


def _shutdown_jvm() -> None:
    """Stop the session and the JVM it runs in, then wait for every child."""
    from pyspark import SparkContext

    from poc_parquet_aggregator_spark.plans import stop_spark

    stop_spark()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = host.wait_for_children()
    if left:
        print(f"perfbench: child processes still alive: {left}", file=sys.stderr)


def main(argv: list[str]) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    args = _parse(argv)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    cores = host.usable_cores()
    heap_mb = host.driver_heap_mb(host.mem_total_mb())
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", stamp)
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    _configure_env(run_dir, heap_mb, cores)
    tags = host.host_tags(heap_mb)
    _log(f"host {tags}")

    ticks0 = host.cpu_ticks()
    bench = Bench(args, WORKLOADS[args.workload](run_dir), run_dir, cores)
    samples: dict[str, list[float]] = {}
    try:
        setup_times, inputs = bench.setup(args.seed)
        bench.run_warm_passes(inputs)
        if args.trace:
            metrics = _traced(bench, inputs)
            spec = layers.PER_LAYER
        else:
            # no RSS sampler here: its thread would share the cores with
            # the timed work; peak RSS comes from the traced run
            samples = bench.measure(inputs, args.seconds, bench.tracer)
            bench.final_checks(inputs, bench.tracer)
            _log("checked")
            metrics = _end_to_end(bench, setup_times, samples, inputs)
            spec = layers.END_TO_END
    finally:
        _log("stopping")
        _shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        _log("stopped")

    tags["steal_frac"] = host.steal_frac(ticks0, host.cpu_ticks())
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": tags,
        "setup_s_reps": setup_times,
        "samples": samples,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "failures": bench.failures,
        "metrics": metrics,
    }
    with open(os.path.join(records, stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if args.trace:
        bench.tracer.write(os.path.join(records, stamp + ".spans.jsonl"))

    print(f"host: {json.dumps(tags, sort_keys=True)} seed: {args.seed}")
    for op, vals in samples.items():
        print(f"samples: {op} n={len(vals)} median={median(vals):.4g}s min={min(vals):.4g}s max={max(vals):.4g}s")
    for name, unit in spec.items():
        print(f"{name}: {metrics[name]:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {n: {"value": metrics[n], "unit": u} for n, u in spec.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
