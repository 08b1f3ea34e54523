"""Benchmark entry point.

    python3 perfbench/run.py --workload object_cep --seed 1 --seconds 14 --trace 0

Run from the root of a source checkout.  Inputs are generated from
``--seed``; every operation's output is checked; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``).  Everything the run writes goes under ``.perfbench/``
in the checkout.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SETUPS = 5  # set-ups per run; setup_s is their median
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"
MB = 1e6
# operation families of the pipeline operators (workloads.CURATION)
PIPELINE_FAMILIES = ("dedup", "similarity", "text", "tokenizer")
T_START = time.perf_counter()
FAILED = object()  # the output of an operation that raised


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    UDF workers import the package from any working directory."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def inputs(wl, seed: int) -> str | None:
    import datagen

    if not wl.uses_corpus:
        return None
    return datagen.write(os.path.join(WORK, "inputs", f"corpus-seed{seed}"), seed)


def start_spark():
    from interference_spark import build_spark

    tmp = os.environ["TMPDIR"]
    return build_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark, gateway: bool) -> None:
    """Stop the session; with ``gateway``, also end the JVM and wait for it."""
    from pyspark import SparkContext

    from interference_spark import pipeline

    pipeline.release_caches()
    gw = SparkContext._gateway
    spark.stop()
    if gateway and gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on EOF
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def install_spans(tracer) -> None:
    import interference_spark.dialect as dialect
    from interference_spark.dml import store
    from interference_spark.pipeline import bpe, dedup, quality, similarity, text
    from interference_spark.session import Session
    from interference_spark.streaming import runner
    from interference_spark.streaming.stream_queue import StreamQueue

    tracer.wrap(dialect, "parse", "dialect")
    tracer.wrap(dialect, "compile_query", "dialect")
    for attr in ("execute", "find", "commit"):
        tracer.wrap(Session, attr, "session")
    for attr in ("upsert", "compact", "append_rows", "add_tombstone_ids"):
        tracer.wrap(store, attr, "dml")
    tracer.wrap(runner, "run_stream", "streaming")
    tracer.wrap(StreamQueue, "drain_available", "streaming", "drain")
    for mod in (dedup, similarity, text, quality, bpe):
        tracer.wrap_module(mod, "pipeline", mod.__name__.rsplit(".", 1)[1])


def _low_priority() -> None:
    """Lower the calling thread to the lowest CPU priority.  DuckDB's worker
    threads, started from it, inherit that, so the oracle takes only CPU time
    that Spark leaves idle."""
    os.setpriority(os.PRIO_PROCESS, threading.get_native_id(), 19)


def _table_files(warehouse: str) -> dict[str, int]:
    out = {}
    for root, dirs, files in os.walk(warehouse):
        dirs[:] = [d for d in dirs if d != "_checkpoints"]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class Bench:
    def __init__(self, wl, seed: int, trace: bool) -> None:
        self.wl, self.seed, self.trace = wl, seed, trace
        self.correct = True
        self.attempted = self.failed = 0

    # ----------------------------------------------------------- one op
    def _call(self, op, rec: dict):
        """Build and run one operation; its output, or ``FAILED``."""
        from pyspark.sql import DataFrame

        tr, py4j = self.tracer, self.py4j
        plan_s = 0.0
        before = _table_files(self.warehouse) if tr and op.committed_bytes else None
        try:
            with tr.span(op.name, "op") if tr else nullcontext():
                c0 = py4j.count if py4j else 0
                if py4j:
                    py4j.active = True
                t0 = time.perf_counter()
                obj = op.build()
                t1 = time.perf_counter()
                if py4j:
                    py4j.active = False
                    c1 = py4j.count
                if tr and isinstance(obj, DataFrame):
                    with tr.span("plan", "spark"):
                        p0 = time.perf_counter()
                        obj._jdf.queryExecution().executedPlan()
                        plan_s = time.perf_counter() - p0
                if py4j:
                    py4j.active = True
                t2 = time.perf_counter()
                with tr.span("action", "spark") if tr else nullcontext():
                    out = op.run(obj)
                t3 = time.perf_counter()
                if py4j:
                    py4j.active = False
                    rec["py4j_build"] += c1 - c0
                    rec["py4j_run"] += py4j.count - c1
        except Exception:  # noqa: BLE001 — an operation error is a failed op
            if py4j:
                py4j.active = False
            traceback.print_exc(file=sys.stderr)
            out = FAILED
        else:
            lat = (t1 - t0) + plan_s + (t3 - t2)
            rec["lat"].append(lat)
            rec["plan_s"] += plan_s
            if op.family in PIPELINE_FAMILIES:
                rec["pipeline_build_s"] += t1 - t0
                rec["pipeline_action_s"] += plan_s + (t3 - t2)
            rec["family_s"][op.family] = rec["family_s"].get(op.family, 0.0) + lat
        if before is not None:
            after = _table_files(self.warehouse)
            rec["bytes_written"] += sum(v for p, v in after.items() if p not in before)
            rec["files_rewritten"] += sum(
                1 for p in before if p not in after and "_tombstones" not in p
            )
            rec["committed_bytes"] += op.committed_bytes
        return out

    def _check(self, op, out, rnd: int, rec: dict, warm: bool) -> None:
        ok = False
        if out is not FAILED:
            try:
                ok = bool(op.check(out))
            except Exception:  # noqa: BLE001 — a check error is a failed op
                traceback.print_exc(file=sys.stderr)
            for k, v in op.stats.items():
                rec[k] = rec.get(k, 0) + v
        if not ok:
            got = (
                f" (delivered {op.stats['delivered']} rows, owed {op.stats['new']})"
                if op.stats else ""
            )
            print(f"round {rnd}: {op.name} failed{got}", file=sys.stderr)
            if warm:
                self.failed += 1
            if not op.known_fault:
                self.correct = False
        if warm:
            self.attempted += 1

    def _round(self, rnd: int, warm: bool) -> dict:
        """Run one round's operations back to back, then check their
        outputs (the cold round's checks may wait for the oracle)."""
        rec = {
            "lat": [], "plan_s": 0.0, "py4j_build": 0, "py4j_run": 0,
            "pipeline_build_s": 0.0, "pipeline_action_s": 0.0, "family_s": {},
            "bytes_written": 0, "files_rewritten": 0, "committed_bytes": 0,
        }
        if self.tracer:
            self.tracer.round = rnd
        outs = [(op, self._call(op, rec)) for op in self.wl.round_ops(rnd)]
        for op, out in outs:
            self._check(op, out, rnd, rec, warm)
        rec["wall_s"] = sum(rec["lat"])
        return rec

    def _between_rounds(self) -> None:
        """Drop what one round leaves cached, so every warm round does the
        same work."""
        from interference_spark import pipeline

        self.spark.catalog.clearCache()
        pipeline.release_caches(blocking=True)
        gc.collect()
        self.spark._jvm.System.gc()

    # ----------------------------------------------------------- a run
    def _setup(self, k: int, setups: list[float], data_dir: str | None) -> None:
        """Set the workload up on a fresh Spark session; the first set-up
        also launches the JVM."""
        if self.spark is not None:
            stop_spark(self.spark, gateway=False)
        self.warehouse = os.path.join(WORK, f"warehouse-{k}")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        t0 = time.perf_counter()
        self.spark = start_spark()
        self.wl.setup(self.spark, data_dir, self.warehouse, self.seed)
        setups.append(time.perf_counter() - t0)
        log(f"set-up {k}: {setups[-1]:.2f}s")

    def run(self, seconds: float, data_dir: str | None) -> dict:
        """Set up, run one cold round, then as many warm rounds as fit in
        ``seconds`` at the workload's nominal round length (so the number of
        rounds never depends on how fast this run went), then set up
        ``SETUPS - 1`` more times on fresh sessions for ``setup_s``."""
        import oracle
        import probes

        calib_ms = probes.calibrate()
        log(f"host calibration loop: {calib_ms:.1f} ms")
        setups = []
        self.spark = self.tracer = self.py4j = None
        oracle_pool = ThreadPoolExecutor(max_workers=1, initializer=_low_priority)
        try:
            if self.wl.oracle_entries():
                # DuckDB computes the expected answers, at low priority,
                # while the JVM launches and the cold round runs; the cold
                # round's checks wait for them, so they are in hand before
                # any warm round
                self.wl.answers = oracle_pool.submit(
                    oracle.answers, self.wl.name, self.wl.oracle_entries(), data_dir
                )
            self._setup(0, setups, data_dir)
            work = probes.SparkWork(self.spark)
            if self.trace:
                import tracing

                self.tracer = tracing.Tracer()
                self.py4j = probes.Py4jCounter(self.spark)
                install_spans(self.tracer)
            cold_s = self._round(0, warm=False)["wall_s"]
            log(f"cold round: {cold_s:.2f}s")
            n = max(1, int(seconds // self.wl.round_seconds))
            rounds, counts = [], []
            with probes.RssSampler() as rss:
                for rnd in range(1, n + 1):
                    self._between_rounds()
                    work.mark()
                    rounds.append(self._round(rnd, warm=True))
                    counts.append(work.read())
                    log(f"round {rnd}: {rounds[-1]['wall_s']:.2f}s, {counts[-1]['jobs']} jobs")
            if self.tracer:
                self.tracer.unwrap_all()
            if self.py4j:
                self.py4j.close()
                self.py4j = None
            for k in range(1, SETUPS):
                self._setup(k, setups, data_dir)
        finally:
            oracle_pool.shutdown()
            if self.py4j:
                self.py4j.close()
            if self.tracer:
                self.tracer.unwrap_all()
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                self.tracer.dump(
                    os.path.join(WORK, "traces", f"{self.wl.name}-seed{self.seed}.jsonl")
                )
            if self.spark is not None:
                stop_spark(self.spark, gateway=True)
                log("stopped")
        self.rounds, self.counts = rounds, counts
        warm = set(range(1, len(rounds) + 1))
        if self.trace:
            metrics = self._per_layer(rounds, counts, warm, cold_s, setups, calib_ms)
        else:
            metrics = self._end_to_end(rounds, counts, setups, rss.peak)
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # ----------------------------------------------------------- metrics
    @staticmethod
    def _end_to_end(rounds, counts, setups, peak_rss) -> dict:
        med = statistics.median
        lat_ms = [x * 1e3 for r in rounds for x in r["lat"]]
        return {
            "setup_s": (med(setups), "s"),
            "round_s": (med(r["wall_s"] for r in rounds), "s"),
            "op_ms.p50": (med(lat_ms), "ms"),
            # linear interpolation between order statistics (numpy's default)
            "op_ms.p90": (statistics.quantiles(lat_ms, n=10, method="inclusive")[8], "ms"),
            "jobs.round": (med(c["jobs"] for c in counts), "count"),
            "shuffle_mb.round": (med(c["shuffleWriteBytes"] for c in counts) / MB, "MB"),
            "peak_rss_mb": (peak_rss / MB, "MB"),
        }

    def _per_layer(self, rounds, counts, warm, cold_s, setups, calib_ms) -> dict:
        med = statistics.median
        tr = self.tracer

        def per_round(fn) -> float:
            return med(fn(i, r) for i, r in zip(sorted(warm), rounds))

        def span_ms(layer, name=None):
            return per_round(lambda i, r: tr.layer_ms({i}, layer, name))

        def count(field, scale=1.0):
            return med(c[field] for c in counts) / scale

        def ratio(num, den):
            n = sum(r.get(num, 0) for r in rounds)
            d = sum(r.get(den, 0) for r in rounds)
            return n / d if d else 0.0

        m = {
            "dialect.parse_ms": (span_ms("dialect", "parse"), "ms"),
            "dialect.compile_ms": (span_ms("dialect", "compile_query"), "ms"),
            "spark.plan_ms": (per_round(lambda i, r: r["plan_s"] * 1e3), "ms"),
            "spark.jobs": (count("jobs"), "count"),
            "spark.stages": (count("stages"), "count"),
            "spark.tasks": (count("numTasks"), "count"),
            "spark.executor_run_s": (count("executorRunTime", 1e3), "s"),
            "spark.executor_cpu_s": (count("executorCpuTime", 1e9), "s"),
            "spark.gc_s": (count("jvmGcTime", 1e3), "s"),
            "spark.input_mb": (count("inputBytes", MB), "MB"),
            "spark.shuffle_read_mb": (count("shuffleReadBytes", MB), "MB"),
            "spark.spill_mb": (
                med(c["memoryBytesSpilled"] + c["diskBytesSpilled"] for c in counts) / MB,
                "MB",
            ),
            "py4j.calls.build": (per_round(lambda i, r: r["py4j_build"]), "count"),
            "py4j.calls.run": (per_round(lambda i, r: r["py4j_run"]), "count"),
            "session.commit_ms": (span_ms("session", "commit"), "ms"),
            "session.find_ms": (span_ms("session", "find"), "ms"),
            "session.execute_ms": (span_ms("session", "execute"), "ms"),
            "dml.upsert_ms": (span_ms("dml", "upsert"), "ms"),
            "dml.compact_ms": (span_ms("dml", "compact"), "ms"),
            "dml.bytes_written_mb": (per_round(lambda i, r: r["bytes_written"] / MB), "MB"),
            "dml.committed_mb": (per_round(lambda i, r: r["committed_bytes"] / MB), "MB"),
            "dml.write_amp": (ratio("bytes_written", "committed_bytes"), "ratio"),
            "dml.files_rewritten": (per_round(lambda i, r: r["files_rewritten"]), "count"),
            "streaming.drain_ms": (span_ms("streaming", "drain"), "ms"),
            "streaming.microbatches": (per_round(lambda i, r: r.get("microbatches", 0)), "count"),
            "streaming.rows_delivered": (per_round(lambda i, r: r.get("delivered", 0)), "count"),
            "streaming.useful_ratio": (ratio("new", "delivered"), "ratio"),
            "pipeline.build_ms": (per_round(lambda i, r: r["pipeline_build_s"] * 1e3), "ms"),
            "pipeline.action_ms": (per_round(lambda i, r: r["pipeline_action_s"] * 1e3), "ms"),
        }
        for fam in PIPELINE_FAMILIES:
            m[f"pipeline.{fam}_ms"] = (
                per_round(lambda i, r, f=fam: r["family_s"].get(f, 0.0) * 1e3),
                "ms",
            )
        for layer in ("op", "session", "dialect", "dml", "streaming", "pipeline", "spark"):
            m[f"self_ms.{layer}"] = (
                per_round(lambda i, r, l=layer: tr.self_ms({i}).get(l, 0.0)),
                "ms",
            )
        m["trace.round_s"] = (med(r["wall_s"] for r in rounds), "s")
        m["cold_round_s"] = (cold_s, "s")
        m["setup.first_s"] = (setups[0], "s")
        m["host.calib_ms"] = (calib_ms, "ms")
        return m


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description="interference_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    prepare_env()
    try:
        import interference_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not interference_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: the package is not the one in {ROOT}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    data_dir = inputs(wl, args.seed)
    log("inputs ready")
    result = Bench(wl, args.seed, bool(args.trace)).run(args.seconds, data_dir)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
