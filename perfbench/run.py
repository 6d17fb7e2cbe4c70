#!/usr/bin/env python3
"""Benchmark of the SPJ engine: one closed-loop client, seeded inputs.

    python3 perfbench/run.py --workload spj_dialect --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run

1. generates the input tables from ``--seed`` (perfbench/datagen.py) under a
   private work directory inside the checkout;
2. sets up the engine's session once and reports the time from process
   start to a session with warm table metadata, input generation left out,
   as ``setup_s``;
3. runs one untimed pass that collects every query's result and compares
   it with DuckDB over the same files (warm-up and correctness check);
4. runs whole timed passes, one query at a time, until ``--seconds`` have
   passed and at least MIN_PASSES have run, each query built by its
   ``fn()`` and executed into Spark's noop sink; ``pass_s`` is the median
   pass;
5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   metrics.  With ``--trace 0`` these are the end-to-end metrics; with
   ``--trace 1`` the per-layer metrics of passes run with the layer wrappers
   of perfbench/tracing.py installed, and the span file is written under
   ``.perfbench_out/``.

Exit code 0 when every query ran and matched its oracle, 1 on a failed or
wrong query, 2 when the engine or a dependency cannot be imported.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import glob  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(os.cpu_count() or 1, 4)  # local[N]; also the shuffle partitions
MIN_PASSES = 3  # timed passes per run at least: the median skips a slow first one


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="input scale factor")
    return ap.parse_args(argv)


def driver_memory() -> str:
    """A quarter of host RAM, at most 1g: the engine's 16g default exceeds
    small hosts."""
    with open("/proc/meminfo") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(512, min(1024, kb // 1024 // 4))}m"


def hermetic_env(work: str) -> dict[str, str]:
    """Point every temporary, local and warehouse directory into ``work`` and
    make the checkout importable by Python workers the JVM starts."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    return dirs


def spark_conf(dirs: dict[str, str], mem: str) -> dict[str, str]:
    # The heap is committed and touched whole at launch, so the JVM's share
    # of the peak RSS does not depend on when G1 happens to grow the heap.
    java_opts = (
        f"-Xms{mem} -XX:+AlwaysPreTouch "
        f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
    )
    return {
        "spark.driver.memory": mem,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


class Session:
    """The engine's SparkSession plus the process ids behind it."""

    def __init__(self, cores: int, conf: dict[str, str], data_dir: str):
        self.cores, self.conf, self.data_dir = cores, conf, data_dir
        self.spark = None

    def start(self) -> None:
        from spj_query_engine_spark import catalog
        from spj_query_engine_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=self.conf,
        )
        catalog.load_tables(self.spark, self.data_dir)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def shutdown(self) -> None:
        """Stop Spark and the JVM and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                traceback.print_exc()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort at exit
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def reset_peak_rss(pid: int | str) -> None:
    """Restart the kernel's peak-RSS (``VmHWM``) count of ``pid`` from its
    current RSS; kernels that refuse keep the lifetime peak."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Scratch:
    """Directories the engine's streaming runners leave behind: the
    hard-coded ``/tmp/spj_*`` sinks and checkpoints, and anything new under
    the run's temp directory.  ``collect`` measures and deletes those that
    appeared since its last call."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.known = self._list()

    def _list(self) -> set[str]:
        return set(glob.glob("/tmp/spj_*")) | set(glob.glob(os.path.join(self.tmp, "*")))

    def collect(self) -> int:
        total = 0
        now = self._list()
        for path in sorted(now - self.known):
            for dirpath, _, files in os.walk(path):
                for f in files:
                    try:
                        total += os.lstat(os.path.join(dirpath, f)).st_size
                    except OSError:
                        pass
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.remove(path)
                except OSError:
                    pass
        self.known = self._list()
        return total


def oracle_connection(data_dir: str):
    import duckdb

    from spj_query_engine_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    for name in TABLES:
        path = table_path(data_dir, name)
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_pass(spark, queries, data_dir: str, scratch: Scratch) -> list[str]:
    """Untimed pass: collect each query once and compare it with its DuckDB
    oracle.  Returns one message per failed query."""
    from spj_query_engine_spark.testing import compare_frames

    con = oracle_connection(data_dir)
    failures = []
    try:
        for q in queries:
            try:
                actual = q.fn(spark, data_dir).toPandas()
                errors = compare_frames(actual, con.execute(q.oracle).fetch_df())
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                errors = [f"raised {type(exc).__name__}: {str(exc)[:300]}"]
            actual = None
            if errors:
                failures.append(f"{q.name}: {errors[0]}")
    finally:
        con.close()
    cleanup(spark)
    scratch.collect()
    return failures


def cleanup(spark) -> None:
    """Release cached and checkpointed blocks after a pass: the JVM frees
    checkpoint blocks only once Python drops its references."""
    spark.catalog.clearCache()
    gc.collect()


class Pass:
    """Wall times of one timed pass."""

    def __init__(self):
        self.wall = 0.0
        self.latency: dict[str, float] = {}
        self.failed = 0
        self.layer: dict[str, float] = {}


def run_pass(spark, queries, data_dir: str, scratch: Scratch, tracer=None) -> Pass:
    p = Pass()
    t_pass = time.perf_counter()
    if tracer:
        tracer.begin_pass()
    for q in queries:
        if tracer:
            tracer.begin_query(q.name)
        t0 = time.perf_counter()
        try:
            df = q.fn(spark, data_dir)
            t1 = time.perf_counter()
            if tracer:
                tracer.after_build(df, t0, t1)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            p.latency[q.name] = t2 - t0
            if tracer:
                tracer.after_exec(t1, t2)
        except Exception:  # noqa: BLE001 - counted, reported, run continues
            p.failed += 1
            print(f"perfbench: {q.name} failed\n{traceback.format_exc()}", file=sys.stderr)
            if tracer:
                tracer.end_query()
        df = None  # the last reference: lets cleanup free its blocks
    cleanup(spark)
    written = scratch.collect()
    p.wall = time.perf_counter() - t_pass
    if tracer:
        tracer.add("streaming.bytes_written", written)
        p.layer = tracer.end_pass(p.wall)
    return p


def timed_passes(spark, queries, data_dir, scratch, seconds) -> list[Pass]:
    """Whole passes until ``seconds`` have passed and MIN_PASSES have run."""
    passes = []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(run_pass(spark, queries, data_dir, scratch))
    return passes


def traced_passes(spark, queries, data_dir, scratch, seconds, tracer):
    """Pairs of an untraced and a traced pass in ABBA order (plain, traced,
    traced, plain, ...), so that the further warming of the JVM favours
    neither side, until ``seconds`` have passed and two pairs have run.
    Returns the plain and the traced passes, pair by pair."""
    plain, traced = [], []
    t0 = time.perf_counter()
    while len(traced) < 2 or time.perf_counter() - t0 < seconds:
        for is_traced in (False, True) if len(traced) % 2 == 0 else (True, False):
            if is_traced:
                with tracer.installed():
                    traced.append(run_pass(spark, queries, data_dir, scratch, tracer))
            else:
                plain.append(run_pass(spark, queries, data_dir, scratch))
    return plain, traced


def pass_seconds(passes: list[Pass]) -> float:
    """Typical pass wall: the median of the passes' walls."""
    return statistics.median(p.wall for p in passes)


def end_to_end(passes, setup_s, rss_mb) -> dict[str, dict]:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_seconds(passes), "unit": "s"},
        "driver_rss_peak_mb": {"value": rss_mb, "unit": "MB"},
    }


def query_p50(passes) -> float:
    """Median query latency over every query of the passes."""
    return statistics.median(v for p in passes for v in p.latency.values())


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    missing = [
        m
        for m in ("spj_query_engine_spark", "pyspark", "duckdb", "pyarrow", "numpy")
        if importlib.util.find_spec(m) is None
    ]
    if missing:
        print(f"perfbench: cannot import {', '.join(missing)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    dirs = hermetic_env(work)
    session = None
    try:
        import datagen

        t_gen = time.perf_counter()
        datagen.generate(dirs["data"], args.sf, args.seed)
        gen_s = time.perf_counter() - t_gen

        import workloads

        session = Session(CORES, spark_conf(dirs, driver_memory()), dirs["data"])
        session.start()
        setup_s = time.time() - T_PROCESS - gen_s
        spark = session.spark
        queries = workloads.build(args.workload, args.seed)
        scratch = Scratch(dirs["tmp"])
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, session.jvm_pid(), CORES, dirs["data"])
            tracer.watch_streams()

        t_check = time.perf_counter()
        failures = check_pass(spark, queries, dirs["data"], scratch)
        check_s = time.perf_counter() - t_check
        for msg in failures:
            print(f"perfbench: wrong result: {msg}", file=sys.stderr)
        attempted = len(queries)
        failed = len(failures)
        # the peak RSS from here on covers the timed passes, not the oracle
        # check's result frames
        jvm_pid = session.jvm_pid()
        reset_peak_rss("self")
        reset_peak_rss(jvm_pid)

        if tracer:
            plain, traced = traced_passes(
                spark, queries, dirs["data"], scratch, args.seconds, tracer
            )
            passes = plain + traced
            metrics = tracer.metrics(traced)
            metrics["query.p50_s"] = {"value": query_p50(traced), "unit": "s"}
            metrics["trace.overhead_s"] = {
                "value": statistics.median(t.wall - p.wall for p, t in zip(plain, traced)),
                "unit": "s",
            }
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            span_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.write_spans(span_path)
            print(f"perfbench: spans in {span_path}", file=sys.stderr)
        else:
            passes = timed_passes(spark, queries, dirs["data"], scratch, args.seconds)
            rss_py, rss_jvm = peak_rss_mb("self"), peak_rss_mb(jvm_pid)
            print(f"perfbench: peak rss python {rss_py:.0f} MB, jvm {rss_jvm:.0f} MB", file=sys.stderr)
            metrics = end_to_end(passes, setup_s, rss_py + rss_jvm)
        print(
            f"perfbench: gen {gen_s:.1f}s, setup {setup_s:.1f}s, check {check_s:.1f}s, "
            f"query p50 {query_p50(passes):.3f}s, passes "
            + ", ".join(f"{p.wall:.1f}" for p in passes)
            + "s",
            file=sys.stderr,
        )
        print(
            "perfbench: query latency "
            + ", ".join(
                f"{q.name} " + "/".join(f"{p.latency.get(q.name, 0.0):.2f}" for p in passes)
                for q in queries
            ),
            file=sys.stderr,
        )
        attempted += sum(len(queries) for _ in passes)
        failed += sum(p.failed for p in passes)
    finally:
        try:
            if session is not None:
                session.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
