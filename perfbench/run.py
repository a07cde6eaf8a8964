"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It may be run from any directory: the package is taken from the
working directory when that is a checkout root, else from the checkout
this file lives in. The process starts its own Spark session (its own
JVM) on ``local[<cores>]``, generates the workload's inputs from
``--seed``, runs one untimed warm-up pass over the workload's op list,
then runs the workload's timed passes (one closed-loop client), more
while ``--seconds`` have not elapsed, and checks every op's output
outside the timer. Everything it writes goes under
``perfbench/.work/`` and is removed on exit.

With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` passes alternate between untraced and
traced, the line carries the per-layer metrics from the spans and the
Spark event log of the traced passes, and the spans themselves are
kept in ``perfbench/.work/spans-<workload>-<seed>.jsonl``. The line
before it is a diagnostic record (per-op medians, row counts, input
sizes).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def _checkout_root() -> str:
    """The working directory if it holds the package, else the checkout
    that holds this file."""
    cwd = os.getcwd()
    if os.path.isdir(os.path.join(cwd, "etlhelper_spark")):
        return cwd
    return os.path.dirname(HERE)


ROOT = _checkout_root()


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _derby_jars() -> list[str]:
    homes = [os.environ.get("SPARK_HOME", "")]
    try:
        import pyspark

        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    return [j for h in homes if h for j in glob.glob(os.path.join(h, "jars", "derby-*.jar"))]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside *work* and let Spark's
    Python workers import the package from the checkout root."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def _session(work: str, event_log: bool):
    from etlhelper_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    java_opts = (
        # C1 only: a short run reaches its steady state; with C2 the
        # second timed pass ran 15-25% faster than the first
        "-XX:TieredStopAtLevel=1 "
        # C1 alone gets a 48 MB code cache by default; Spark's generated
        # code outgrew it within a run (58 MB), which turned the JIT off
        # part-way and left the first timed pass 10-20% slower
        "-XX:ReservedCodeCacheSize=256m "
        # a fixed heap: the full collection after the warm-up cannot
        # shrink it (it did: all timed passes then ran 30% slower)
        "-Xms2g "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of this process and of its JVM descendants."""
    pids = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    parts = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(stat.split("/")[2])
            if int(parts[1]) in pids and pid not in pids:
                pids.add(pid)
                grew = True
    peak_kb = {"python": 0, "jvm": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read()
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if pid != os.getpid() and comm != "java":
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                peak_kb["python" if pid == os.getpid() else "jvm"] += int(line.split()[1])
    return {k: v / 1024.0 for k, v in peak_kb.items()}


def _settle(spark) -> None:
    """Collect the warm-up's garbage in Python and in the JVM, so no
    collection of it lands in a timed pass."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Context:
    """What a workload function gets: the session, the seed, and where
    to write its inputs."""

    def __init__(self, spark, seed: int, work: str) -> None:
        import numpy as np

        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.work_dir = work
        self.data_dir = os.path.join(work, "data")

    def generate(self, sf: float) -> dict:
        import datagen

        return datagen.write_tables(datagen.generate_tables(self.seed, sf), self.data_dir)


class Record:
    """One timed op run: its wall time and whether its output checked."""

    __slots__ = ("op", "pass_no", "traced", "wall", "digest", "error")

    def __init__(self, op, pass_no, traced):
        self.op, self.pass_no, self.traced = op, pass_no, traced
        self.wall = 0.0
        self.digest = self.error = None


def run_op(op, pass_no: int, tracer=None) -> Record:
    rec = Record(op, pass_no, tracer is not None)
    try:
        if op.prepare:
            op.prepare()
        t = time.perf_counter()
        if tracer:
            with tracer.op():
                result = op.run()
        else:
            result = op.run()
        rec.wall = time.perf_counter() - t
        rec.digest = op.digest(result)
    except Exception:  # a failing op is counted, and the run goes on
        rec.error = traceback.format_exc(limit=3)
    return rec


def run_pass(workload, pass_no: int, tracer=None) -> list[Record]:
    """Run every op once; *tracer*, when given, records spans."""
    workload.before_pass()
    return [run_op(op, pass_no, tracer) for op in workload.ops]


def warm_up(workload) -> list[Record]:
    """Run every op once, untimed. When the workload's ops do not depend
    on each other they run on one thread per core, so their one-off
    costs (class loading, JIT, Spark codegen, imports) overlap; an op
    that fails there runs again on its own, and only that run counts."""
    if not workload.independent:
        return run_pass(workload, -1)
    from concurrent.futures import ThreadPoolExecutor

    workload.before_pass()
    with ThreadPoolExecutor(max_workers=_cores()) as pool:
        records = list(pool.map(lambda op: run_op(op, -1), workload.ops))
    return [run_op(r.op, -1) if r.error else r for r in records]


def verify(records: list[Record]) -> list[str]:
    problems = []
    for rec in records:
        if rec.error is None:
            try:
                want = rec.op.expected()
                if rec.digest != want:
                    rec.error = f"output mismatch: got {str(rec.digest)[:200]} want {str(want)[:200]}"
            except Exception:
                rec.error = "expected value failed:\n" + traceback.format_exc(limit=3)
        if rec.error is not None:
            problems.append(f"{rec.op.name} (pass {rec.pass_no}): {rec.error}")
    return problems


def _pass_times(records: list[Record]) -> list[float]:
    by_pass: dict[int, float] = {}
    for rec in records:
        by_pass[rec.pass_no] = by_pass.get(rec.pass_no, 0.0) + rec.wall
    return list(by_pass.values())


def end_to_end(records: list[Record], setup_s: float) -> dict:
    lat = [r.wall for r in records]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(_pass_times(records)), "unit": "s"},
        "op_p50_ms": {"value": statistics.median(lat) * 1e3, "unit": "ms"},
    }


def by_kind(records: list[Record]) -> dict:
    """Rows per second for each op kind, plus fetchone's median."""
    out = {}
    kinds = sorted({r.op.kind for r in records})
    for kind in kinds:
        recs = [r for r in records if r.op.kind == kind]
        wall = sum(r.wall for r in recs)
        rows = sum(r.op.rows for r in recs)
        out[kind] = {
            "ops": len(recs),
            "rows_per_s": rows / wall if wall and rows else None,
            "p50_ms": statistics.median(r.wall for r in recs) * 1e3,
        }
    return out


def diagnostics(workload, records, problems, phases, passes) -> dict:
    per_op: dict[str, list[float]] = {}
    for rec in records:
        per_op.setdefault(rec.op.name, []).append(rec.wall)
    return {
        "workload": workload.name,
        "passes": passes,
        "op_samples": len(records),
        "setup_phases_s": phases,
        "pass_s": _pass_times(records),
        "inputs": workload.inputs,
        "op_median_s": {k: statistics.median(v) for k, v in per_op.items()},
        "op_rows": {op.name: op.rows for op in workload.ops if op.rows},
        "by_kind": by_kind(records),
        "problems": problems[:20],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etlhelper_spark")):
        _fail(f"no etlhelper_spark package in the working directory or in {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "scripts", "check_correctness.py")):
        _fail("scripts/check_correctness.py (the oracle hash) is missing")
    if args.workload == "etl_jdbc" and not _derby_jars():
        _fail("Derby jars not found under $SPARK_HOME/jars; etl_jdbc needs them")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(wl.WORKLOADS)}")

    spark = None
    try:
        spark = _session(work, event_log=bool(args.trace))
        phases = {"session_s": time.perf_counter() - T0}
        build = wl.WORKLOADS[args.workload]
        workload = build(Context(spark, args.seed, work))
        phases["inputs_s"] = time.perf_counter() - T0 - phases["session_s"]
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer()
        # the warm-up runs every op once on the timed inputs, so class
        # loading, JIT and Spark codegen are done before timing
        warm = warm_up(workload)
        _settle(spark)
        setup_s = time.perf_counter() - T0
        phases["warmup_s"] = setup_s - phases["session_s"] - phases["inputs_s"]

        records: list[Record] = []
        start = time.perf_counter()
        pass_no = 0
        # a traced run makes at least one whole ABBA cycle (below)
        min_passes = 4 if args.trace else 1
        while pass_no < min_passes or time.perf_counter() - start < args.seconds:
            # untraced and traced passes in ABBA order, so passes getting
            # faster over a run do not bias the tracing overhead
            if args.trace and pass_no % 4 in (1, 2):
                tracer.install()
                try:
                    records += run_pass(workload, pass_no, tracer)
                finally:
                    tracer.uninstall()
            else:
                records += run_pass(workload, pass_no)
            pass_no += 1

        timed_s = time.perf_counter() - start
        rss_mb = _peak_rss_mb()
        t_verify = time.perf_counter()
        problems = verify(records) + [
            f"warm-up {r.op.name}: {r.error}" for r in warm if r.error
        ]
        failed = sum(1 for r in records if r.error) + sum(1 for r in warm if r.error)
        attempted = len(records) + sum(1 for r in warm if r.error)
        phases["timed_s"] = timed_s
        phases["verify_s"] = time.perf_counter() - t_verify
        diag = diagnostics(workload, records, problems, phases, pass_no)
        diag["peak_rss_mb"] = rss_mb
        diag["warmup_op_s"] = {r.op.name: r.wall for r in warm}
        if args.trace:
            plain = [r for r in records if not r.traced]
            traced_recs = [r for r in records if r.traced]
            spark.stop()
            pass_s = {
                "traced": statistics.median(_pass_times(traced_recs)),
                "untraced": statistics.median(_pass_times(plain)),
            }
            metrics = tracer.metrics(
                traced_recs, pass_s, os.path.join(work, "eventlog"), by_kind(plain)
            )
            # kept after the run, next to (not inside) the removed work dir
            tracer.dump(os.path.join(
                HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl"
            ))
        else:
            metrics = end_to_end(records, setup_s)
        print(json.dumps(diag, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        sys.stdout.flush()
        return 0
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:
        pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
