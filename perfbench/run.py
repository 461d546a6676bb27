"""Newsify benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload batch_refresh --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds nothing: the program is the
``newsify_spark`` package beside this directory, imported from source.
Every file a run writes goes to a fresh directory under
``.perfbench_tmp/`` in the checkout, removed at exit (``--keep`` keeps
it, with the spans of a traced run in ``spans.jsonl``).

The last stdout line is one JSON object with exactly the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
is the run's provenance, ``{"host": ..., "errors": [...]}``, and every
error is also written to stderr.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see README.md). Exit code 0 only when a result was printed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 170  # the whole run, set-up and checks included
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "op_cpu_s": "s",
    "read_p50_ms": "ms",
}


def per_layer_names() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _sandbox(root: str) -> str:
    """A fresh work dir inside the checkout; temp files of this process,
    of Spark and of its JVM all go below it."""
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the launch starts: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_BLOOM_CACHE"] = os.path.join(work, "bloom-cache")
    # a fixed, modest heap: peak RSS then follows the program, not how far
    # an 8g heap happened to grow, and the host's memory stays shared
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    return work


def _stop(spark) -> None:
    """Stop the session, then wait until its JVM and every process under it
    (the PySpark worker daemon and workers) has exited."""
    from pyspark import SparkContext

    from probe import descendants

    started = descendants()
    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while alive := [p for p in started if _running(p)]:
        if time.monotonic() > deadline + 5:
            break  # SIGKILLed and still not gone: nothing more to do
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True unless the process is gone or a zombie (it has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _alarm(*_):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work dir")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "newsify_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding newsify_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import workloads  # noqa: E402
    from probe import Tracer, host_info, peak_rss_mb  # noqa: E402

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(RUN_LIMIT_S)
    work = _sandbox(root)
    spark = None
    try:
        from newsify_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            cpus=len(os.sched_getaffinity(0)),
            extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
        )
        t1 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        ctx = workloads.Ctx(
            spark=spark,
            tracer=Tracer(spark, enabled=bool(args.trace)),
            seed=args.seed,
            seconds=args.seconds,
            work=work,
        )
        workloads.WORKLOADS[args.workload](ctx)
        if not ctx.ops:
            raise RuntimeError("no operation completed: " + "; ".join(ctx.errors))
        rss = peak_rss_mb(spark)
        if args.trace:
            ctx.tracer.write(os.path.join(work, "spans.jsonl"))
            metrics = _per_layer(ctx, t1 - t0, t2 - t1, ctx.setup_end - t2)
        else:
            metrics = _end_to_end(ctx, ctx.setup_end - T_START, rss)
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }
        provenance = {"host": host_info(), "errors": ctx.errors}
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
            except OSError:
                pass
    for e in provenance["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps(provenance))
    print(json.dumps(result))
    return 0


def _end_to_end(ctx, setup_s: float, rss_mb: float) -> dict:
    med = lambda spans, key: statistics.median(s[key] for s in spans)  # noqa: E731
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "op_p50_s": med(ctx.ops, "wall_s"),
        "op_cpu_s": med(ctx.ops, "tree_cpu_s"),
        "read_p50_ms": 1000 * med(ctx.reads, "wall_s"),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def _per_layer(ctx, get_spark_s: float, warmup_s: float, staging_s: float) -> dict:
    tr = ctx.tracer
    selfs = tr.self_times()
    layer = dict(ctx.layer)
    layer.update(
        {
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": warmup_s,
            "session.staging_s": staging_s,
            "trace.overhead_s": tr.overhead_s,
            "trace.spans": float(len(tr.spans)),
        }
    )
    # self time per layer: span names are "<layer>.<call>"
    for name, s in selfs.items():
        key = f"self.{name.split('.')[0]}_s"
        layer[key] = layer.get(key, 0.0) + s
    units = per_layer_names()
    return {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())
