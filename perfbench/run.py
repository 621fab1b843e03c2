"""h2spark benchmark: one driver process, one SparkSession at local[nproc],
and a closed loop with one client (each operation starts after the previous
one has finished).

    python3 perfbench/run.py --workload registry_floor --seed 1 --seconds 2 --trace 0
    python3 perfbench/selftest.py

Workloads (their reasons are in BENCHMARK.json):

- ``registry_floor``: a seeded, cost-stratified sample of the registry's
  floor tier at sf0.01 (see ``queries.floor_sample``);
- ``iterative_ops``: a fixed list of the ROADMAP's iterative operators at
  sf0.01, in seeded order (see ``queries.ITERATIVE``);
- ``wire_io``: pipe_out, merge_parts and pipe_in over FLAT, CSV and XML plus
  an LZ4-framed JSONL scan, on seeded synthetic data (see ``wire.py``).

The registry's base tables are generated inside the run's own directory by
``tables.py``.  Set-up (``setup_s``) runs from process start to the end of
one untimed warm pass: the program's imports, session start, warm-up jobs,
data generation, and the warm pass, which checks every output (registry
queries against their DuckDB twins; wire scans against the generator's row
count and xxhash64 sum) and runs every timed operation once.  The artifacts
``bench_warmup`` would build are built there too, by the sampled queries
that need them.  The timed loop then runs whole passes until ``--seconds``
have gone by, and at least the workload's ``passes``; wire scans are
checked on every pass.

End-to-end metrics (``--trace 0``) are the same on every workload.  An
operation is one query run (build plus noop sink, after ``clearCache()``,
as in ``bench.py``) or one ``wire_io`` round of all eight wire operations:

- ``setup_s``: seconds from process start to the end of the warm pass;
- ``op_p50_s``: median latency of the operations that succeeded;
- ``ops_per_s``: operations that succeeded per second of the timed loop.

The MB/s of each wire operation is in the detail line (median over the
run's rounds) and is a per-layer metric (``wire.*``).

A run holds 1 to 12 timed operations, too few for a tail percentile to be more
than its one or two slowest samples, so ``op_p90_s`` is printed in the
detail line with its sample count and carries no bound.  Memory
(``sysprobe.peak_rss_mb``: peak of the driver and JVM plus the Python
workers' share) is in the detail line of every run and is the per-layer
metric ``mem.peak_rss_mb``; it varies too much from run to run (the JVM heap
and the number of idle workers) to carry a bound.

Failed or wrong operations count in the result line's ``failed`` out of
``attempted``; each wire operation and each query check counts once.
``--trace 1`` runs the timed loop once untraced and then again with spans
around each layer, and prints the per-layer metrics of BENCHMARK.json
instead, per operation unless the unit says otherwise; the tracing
overhead (``trace.overhead_s``) is the traced minus the untraced mean
operation latency.  The spans go to
``.perfbench/spans-<workload>-<seed>.jsonl``.  A JSON detail line (CPU
probes, sample, per-format throughput, failures, top WARN kinds, queries
leaving cache residue) precedes the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sysprobe  # noqa: E402
from spans import LogTap, Tracer  # noqa: E402

#: per-workload sizes; ``tiny`` is the self-test size.  Set-up (JVM, session,
#: warm-up and a cold warm pass) is most of a run, so these are kept small
#: enough for a run to take under a minute on 4 shared cores; a timed pass
#: takes 5-7 s.  ``passes`` is the least number of timed passes: two give
#: each run twice the samples over twice the time, which the run-to-run
#: spread of ``registry_floor`` and ``wire_io`` (a pass of which is one
#: operation) needs on a shared box.
SIZES = {
    "registry_floor": {"full": {"sf": 0.01, "k": 10, "passes": 2},
                       "tiny": {"sf": 0.01, "k": 2}},
    "iterative_ops": {"full": {"sf": 0.01, "k": 2}, "tiny": {"sf": 0.01, "k": 1}},
    "wire_io": {"full": {"rows": 60_000, "passes": 2}, "tiny": {"rows": 5_000}},
}


def _isolate(tmp: str, nproc: int) -> None:
    """Environment for the program, its JVM and its Python workers: every
    scratch path inside ``tmp``, and the checkout on PYTHONPATH so that
    workers import the engine from any working directory."""
    for sub in ("work", "ckpt", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + pp if pp else "")
    os.environ["H2H_SPARK_WORK"] = os.path.join(tmp, "work")
    os.environ["H2H_SPARK_CKPT_BASE"] = os.path.join(tmp, "ckpt")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # the JVM that spark-submit runs to build the driver's command line
    # would write its hsperfdata file under /tmp
    lo = os.environ.get("SPARK_LAUNCHER_OPTS")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData" + (" " + lo if lo else "")
    tempfile.tempdir = None  # re-read TMPDIR


def _start_session(tmp: str, nproc: int):
    """The program's own ``get_spark``, with the two paths it fixes outside
    the run's directory moved into ``tmp``: the warehouse and the JVM's temp
    dir (``-XX:-UsePerfData`` keeps the JVM's hsperfdata file out of
    ``/tmp`` too).  Every other setting is get_spark's."""
    from pyspark.sql import SparkSession

    from h2h_spark.session import get_spark

    orig = SparkSession.Builder.getOrCreate

    def get_or_create(builder):
        builder.config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        builder.config("spark.driver.extraJavaOptions",
                       f"-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData")
        return orig(builder)

    SparkSession.Builder.getOrCreate = get_or_create
    try:
        return get_spark("h2spark_perfbench", cpus=nproc)
    finally:
        SparkSession.Builder.getOrCreate = orig


def _warmup(spark) -> None:
    """bench.py's warm-up jobs: JVM, the Arrow Python worker, the noop sink."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10).mapInArrow(lambda it: it, "id long").collect()
    spark.range(10).write.format("noop").mode("overwrite").save()


def _stop(spark) -> None:
    """Stop Spark (and with it the Python workers), then the py4j gateway
    JVM, and wait for the JVM to exit, also when ``spark.stop()`` fails."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Workload:
    """Set-up, checked warm pass and timed passes of one workload.  An
    operation is one query run, or on ``wire_io`` one round of the eight
    wire operations (see ``wire.py``), so that all operations of a
    ``wire_io`` run do the same work."""

    def __init__(self, args, spark, tracer: Tracer, size: dict, tmp: str, entrymod):
        self.args, self.spark, self.tracer = args, spark, tracer
        self.detail: dict = {}
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        #: MB/s of each succeeded wire operation, by operation
        self.rates: dict[str, list[float]] = {}
        self._close = lambda: None
        self.min_passes = size.get("passes", 1)
        t = time.perf_counter()
        if args.workload == "wire_io":
            self._setup_wire(size, tmp)
        else:
            self._setup_queries(size, tmp, entrymod)
        self.detail["warm_pass_s"] = round(
            time.perf_counter() - t - self.detail["datagen_s"], 3)

    def _record(self, name: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failures.append((name, err))

    def _setup_wire(self, size: dict, tmp: str) -> None:
        import wire

        w = wire.WireIO(self.spark, os.path.join(tmp, "wire"), self.args.seed,
                        size["rows"])
        t = time.perf_counter()
        w.setup()
        self.detail["datagen_s"] = round(time.perf_counter() - t, 3)
        self.detail["file_mb"] = {k: round(v / 1e6, 2) for k, v in w.bytes.items()}
        expect = w.expect
        if self.args.corrupt_expected:
            expect = (expect[0], expect[1] + 1)
        for name, _, _, err in wire.run_round(w, self.tracer, expect):  # warm pass
            self._record(f"warm:{name}", err)

        def one_round():
            t0 = time.perf_counter()
            ok = True
            with self.tracer.op("round"):
                for name, dt, nbytes, err in wire.run_round(w, self.tracer, expect):
                    self._record(name, err)
                    ok = ok and err is None
                    if err is None:
                        self.rates.setdefault(name, []).append(nbytes / 1e6 / dt)
            yield time.perf_counter() - t0, ok

        self._pass = one_round

    def _setup_queries(self, size: dict, tmp: str, entrymod) -> None:
        import queries
        import tables

        sf_dir = os.path.join(tmp, f"sf{size['sf']}")
        t = time.perf_counter()
        tables.write_tables(sf_dir, size["sf"])
        self.detail["datagen_s"] = round(time.perf_counter() - t, 3)
        names = set(entrymod.queries())
        if self.args.workload == "registry_floor":
            order = queries.floor_sample(names, self.args.seed, size["k"])
        else:
            order = queries.iterative_order(names, self.args.seed, size["k"])
        self.detail["sample"] = order
        runner = queries.QueryRunner(self.spark, entrymod, REPO, sf_dir, self.tracer)
        self._close = runner.close
        # untimed warm pass: check each output, then run the timed operation
        # once, whose first run after the check was up to 2.3x slower
        for name in order:
            self._record(f"check:{name}", runner.check(name))
            self._record(f"warm:{name}", runner.run(name)[1])
        if self.args.trace:
            # time _prepare inside the queries' own wrapper, which looks the
            # name up in the module at every call
            orig, tracer = entrymod._prepare, self.tracer

            def prepare(spark):
                with tracer.span("entry.prepare"):
                    orig(spark)

            entrymod._prepare = prepare

        def one_pass():
            for name in order:
                dt, err = runner.run(name)
                self._record(name, err)
                yield dt, err is None

        self._pass = one_pass

    def timed(self, seconds: float) -> tuple[float, list[tuple[float, bool]]]:
        """Whole passes until ``seconds`` have gone by, and at least
        ``min_passes``; returns the wall and each operation's (seconds,
        succeeded)."""
        self.tracer.begin()
        timings: list[tuple[float, bool]] = []
        t0 = time.perf_counter()
        passes = 0
        while passes < self.min_passes or time.perf_counter() - t0 < seconds:
            timings.extend(self._pass())
            passes += 1
        self.detail["passes"] = self.detail.get("passes", 0) + passes
        return time.perf_counter() - t0, timings

    def close(self) -> None:
        self._close()


def _percentile(values: list[float], q: float) -> float:
    """``statistics.quantiles`` (inclusive) percentile; a single value is
    its own percentile."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _latencies(timings) -> list[float]:
    """Latencies of the operations that succeeded (of all, if none did, so
    that a run where everything failed still reports a time)."""
    return [dt for dt, ok in timings if ok] or [dt for dt, _ in timings]


def _end_to_end(timings, setup_s: float, wall: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(_latencies(timings)), "unit": "s"},
        "ops_per_s": {"value": sum(ok for _, ok in timings) / wall, "unit": "1/s"},
    }


def _wire_rates(rates: dict[str, list[float]]) -> dict[str, float]:
    """Median MB/s of each wire operation, and of both merges as ``merge``."""
    out = {k: statistics.median(v) for k, v in rates.items()}
    merges = rates.get("merge_flat", []) + rates.get("merge_csv", [])
    if merges:
        out["merge"] = statistics.median(merges)
    return out


def _per_layer(tracer: Tracer, rates, traced, untraced) -> dict:
    """BENCHMARK.json's per-layer metrics from the tracer's totals; units
    ending in ``/op`` are per operation, the others per run.  ``op.wall_s``
    is the traced operations' mean latency and ``trace.overhead_s`` that
    minus the mean latency of the same operations untraced, in the same
    process."""
    tot = tracer.totals
    tot["entry.build_s"] -= tot["entry.prepare_s"]  # build span wraps prepare
    tot["merge.s"] = tot["merge_s"]
    wall = statistics.fmean(_latencies(traced))
    per_op = {"op.wall_s": wall,
              "trace.overhead_s": wall - statistics.fmean(_latencies(untraced))}
    rates = _wire_rates(rates)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    out = {}
    for m in spec:
        name, unit = m["name"], m["unit"]
        if name in per_op:
            val = per_op[name]
        elif name.startswith("wire."):
            val = rates.get(name[len("wire."):-len("_mb_s")], 0.0)
        elif unit.endswith("/op"):
            val = tot[name] / max(1, tracer.ops)
        else:
            val = tot[name]
        out[name] = {"value": val, "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test size")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: expect a wrong wire_io checksum")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("__spark_entry__.py", "h2h_spark/__init__.py"):
        if not os.path.isfile(os.path.join(REPO, need)):
            print(f"perfbench: program file {need} not found under {REPO}",
                  file=sys.stderr)
            return 2

    nproc = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    out_dir = os.path.join(REPO, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    log = LogTap(os.path.join(tmp, "stderr.log"))
    spark = work = None
    try:
        _isolate(tmp, nproc)
        sys.path.insert(0, REPO)
        import __spark_entry__ as entrymod

        t = time.perf_counter()
        spark = _start_session(tmp, nproc)
        session_start = time.perf_counter() - t
        t = time.perf_counter()
        _warmup(spark)
        session_warmup = time.perf_counter() - t
        # enabled only for the traced timed loop
        tracer = Tracer(spark, log=log, nproc=nproc)
        work = Workload(args, spark, tracer, SIZES[args.workload][args.size],
                        tmp, entrymod)
        setup_s = time.perf_counter() - T_START
        probe_before = sysprobe.cpu_probe()
        untraced = []
        if args.trace:
            # the same operations untraced first, for the tracing overhead
            _, untraced = work.timed(args.seconds)
            tracer.enabled = True
        wall, timings = work.timed(args.seconds)
        probe_after = sysprobe.cpu_probe()
        rss = sysprobe.peak_rss_mb()
        if args.trace:
            tracer.totals["session.start_s"] = session_start
            tracer.totals["session.warmup_s"] = session_warmup
            tracer.totals["mem.peak_rss_mb"] = rss["driver"] + rss["jvm"] + rss["workers"]
            spans = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.write_spans(spans)
            metrics = _per_layer(tracer, work.rates, timings, untraced)
        else:
            metrics = _end_to_end(timings, setup_s, wall)
    except BaseException:
        log.restore()
        print(log.tail(), file=sys.stderr)
        raise
    finally:
        try:
            if work is not None:
                work.close()
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    log.restore()

    detail = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "trace": args.trace, "size": args.size, "setup_s": round(setup_s, 3),
        "session_start_s": round(session_start, 3),
        "session_warmup_s": round(session_warmup, 3),
        # a busy neighbour slows this loop: compare with quiet runs
        "cpu_probe_s": [round(probe_before, 4), round(probe_after, 4)],
        "loaded": max(probe_before, probe_after) > 1.25 * min(probe_before, probe_after),
        "timed_s": round(wall, 3),
        "samples": sum(ok for _, ok in timings),
        "op_p90_s": _percentile(_latencies(timings), 0.9),
        "failed_ratio": len(work.failures) / work.attempted,
        "failures": work.failures[:20],
        "rss_mb": {k: round(v, 1) for k, v in rss.items()},
        **work.detail,
    }
    if args.workload == "wire_io":
        detail["mb_per_s"] = {k: round(v, 2) for k, v in _wire_rates(work.rates).items()}
    if args.trace:
        detail.update(
            spans=os.path.relpath(spans, REPO),
            top_warn_kinds=tracer.warn_kinds.most_common(8),
            warn_lines_by_op=dict(tracer.warn_by_op.most_common(10)),
            cache_residue_by_op=dict(tracer.residue_by_op),
        )
    print(json.dumps(detail))
    print(json.dumps({"correct": not work.failures, "attempted": work.attempted,
                      "failed": len(work.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
