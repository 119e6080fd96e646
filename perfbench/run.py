"""Extraction-engine benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload small_pages --seed 1 --seconds 10 --trace 0

Workloads: small_pages and structured_pages (see README.md for why each
exists). ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints
the per-layer metrics, including the job path (resume epochs) and the
near-dup families, which run as sections of the traced runs. The last line of
stdout is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``.perfbench_work/`` (scratch,
removed at exit) and ``.perfbench_out/`` (span dumps) in the repository
root. Exit code is non-zero, with no result line, when the engine cannot
be imported or a corpus scans another row count than was generated.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "docs_per_s": "docs/s",
    "mb_per_s": "MB/s",
    "setup_s": "s",
    "ok_ratio": "ratio",
    "worker_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("small_pages", "structured_pages"))
    p.add_argument("--seed", type=int, required=True, help="corpus seed")
    p.add_argument("--seconds", type=float, default=10.0, help="measured time per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def per_layer_units() -> dict:
    """Per-layer metric name -> unit, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def host_facts() -> dict:
    import pyarrow
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def _isolate(work: str) -> None:
    """Point every temp/scratch location of Spark, the JVM and Python at
    ``work`` so the run writes nothing outside the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    conf = {
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp; JVM temp files under work/
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Have orphaned descendants (a Python worker whose daemon ended
    first, the JVM's own children) re-parented to this process, so
    :func:`_end_descendants` can wait for every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants(pid: int) -> list:
    from tracing import children

    out, todo = [], children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children(p)
    return out


def _end_descendants(grace: float = 30.0) -> None:
    """Reap every descendant of this process, waiting ``grace`` seconds
    for them to exit on their own, then sending SIGTERM and, 10 s later,
    SIGKILL to those still running. Returns once none is left."""
    start = time.monotonic()
    sent = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        waited = time.monotonic() - start
        sig = signal.SIGKILL if waited > grace + 10 else signal.SIGTERM if waited > grace else None
        if sig is not None and sig != sent:
            for p in _descendants(os.getpid()):
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _terminate(signum, frame):
    # once: a second SIGTERM must not cut short the clean-up it started
    signal.signal(signum, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import docling_plus_spark  # noqa: F401  (fail fast where the engine is absent)

    import workloads

    signal.signal(signal.SIGTERM, _terminate)
    _become_subreaper()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    log_path = os.path.join(work, "driver.log")
    # the JVM inherits fd 2: its log (codegen fallbacks included) goes to
    # the driver log, which is scanned at the end and echoed on failure
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)
    bench = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace), work, log_path)
    ok = False
    try:
        with bench.usage:
            workloads.WORKLOADS[args.workload](bench)
        ok = True
    except Exception:
        traceback.print_exc()
    finally:
        try:
            bench.stop()
        finally:
            _end_descendants()
            sys.stderr.flush()
            os.dup2(saved_err, 2)
            os.close(log_fd)
            if not ok:
                with open(log_path, errors="replace") as fh:
                    sys.stderr.write("".join(fh.readlines()[-60:]))
            if args.trace:
                bench.tracer.dump(os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.json"))
            shutil.rmtree(work, ignore_errors=True)
    if not ok:
        return 1

    res = bench.res
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host_facts(), **res.info}))
    for note in res.tally.notes:
        print("check failed:", note)
    if args.trace:
        units = per_layer_units()
        missing = [n for n in units if n not in res.layers]
        # layers a workload does not run read 0: the job path in
        # small_pages, the near-dup families in structured_pages
        metrics = {n: {"value": float(res.layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
        if missing:
            print("layers not run in this workload:", " ".join(missing))
    else:
        metrics = {n: {"value": float(res.metrics[n]), "unit": u} for n, u in END_TO_END.items()}
    for n, m in metrics.items():
        print(f"  {n:52s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res.tally.failed == 0, "attempted": res.tally.checked,
                      "failed": res.tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
