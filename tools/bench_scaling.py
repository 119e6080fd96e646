"""Scaling-efficiency evidence: same job, same input, N vs 4N cores.

No real cluster exists in this sandbox, so the north rule's two-cluster-
size criterion is evidenced by running the identical extraction job on the
identical input at ``local[8]`` and ``local[32]`` (one fresh JVM each, via
subprocess) and reporting docs/sec at both plus
``eff = (T_8 / T_32) / 4``. Results are appended to BENCH.md.

Usage: python tools/bench_scaling.py [--replicate 800] [--quick]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from docling_plus_spark.plans import build_session, extract_pipeline

def _timed(fn):
    t0 = time.perf_counter(); fn(); return time.perf_counter() - t0

cpus = int(sys.argv[1]); fx_path = sys.argv[2]; sy_path = sys.argv[3]
n_fx_pass = int(sys.argv[4]) if len(sys.argv) > 4 else 3
n_sy_pass = int(sys.argv[5]) if len(sys.argv) > 5 else 2
spark = build_session(f"local[{{cpus}}]", shuffle_partitions=max(cpus, 32))
# pin the split count to the input (as maxPartitionBytes does at 100 TB)
# instead of defaultParallelism, so both parallelism levels see the SAME
# 128 input splits → identical per-task work, multiple waves per level
spark.conf.set("spark.sql.files.minPartitionNum", "128")
spark.sparkContext.setLogLevel("ERROR")

from docling_plus_spark.sources import fixture_corpus_df
# warm up workers + codegen (untimed)
extract_pipeline(fixture_corpus_df(spark, replicate=2, num_partitions=cpus)) \
    .write.format("noop").mode("overwrite").save()

pages = spark.read.parquet(fx_path)
n_fx = pages.count()
t_fx = min(
    _timed(lambda: extract_pipeline(pages)
           .write.format("noop").mode("overwrite").save())
    for _ in range(n_fx_pass)
)

sp = spark.read.parquet(sy_path)
n_sy = sp.count()
t_sy = min(
    _timed(lambda: extract_pipeline(sp)
           .write.format("noop").mode("overwrite").save())
    for _ in range(n_sy_pass)
)

print("RESULT " + json.dumps({{
    "cpus": cpus, "fixture_docs": n_fx, "fixture_sec": round(t_fx, 3),
    "synth_docs": n_sy, "synth_sec": round(t_sy, 3),
    "total_docs": n_fx + n_sy, "total_sec": round(t_fx + t_sy, 3),
    "docs_per_sec": round((n_fx + n_sy) / (t_fx + t_sy), 1),
}}))
"""


_CONTROL_RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import multiprocessing as mp
import pyarrow.parquet as pq

def _convert(args):
    url, blob = args
    from docling_plus_spark.formats import convert_page
    from docling_plus_spark.doc.serializers import (
        export_to_element_tree, export_to_markdown, export_to_text)
    try:
        doc = convert_page(url, blob, "html")
        return len(export_to_text(doc)) + len(export_to_markdown(doc)) + len(
            export_to_element_tree(doc))
    except Exception:
        return 0

cpus = int(sys.argv[1]); fx_path = sys.argv[2]
t = pq.read_table(fx_path, columns=["url", "html"])
rows = list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
with mp.Pool(cpus) as pool:   # warm-up pass untimed
    pool.map(_convert, rows[: cpus * 4], chunksize=4)
t0 = time.perf_counter()
with mp.Pool(cpus) as pool:
    sizes = pool.map(_convert, rows, chunksize=8)
dt = time.perf_counter() - t0
print("RESULT " + json.dumps({{
    "cpus": cpus, "docs": len(rows), "sec": round(dt, 3),
    "docs_per_sec": round(len(rows) / dt, 1), "bytes_out": sum(sizes),
}}))
"""


def run_control(cpus: int, fx_path: str) -> dict:
    """No-Spark multiprocessing conversion over the same corpus: the box's
    own core-scaling ceiling (DRAM/L3 contention floor, no engine)."""
    code = _CONTROL_RUNNER.format(repo=REPO)
    cmd = [sys.executable, "-c", code, str(cpus), fx_path]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=1800, cwd=REPO)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"control failed (cpus={cpus}):\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}")


def run_at(cpus: int, fx_path: str, sf_dir: str, passes: tuple = (3, 2)) -> dict:
    code = _RUNNER.format(repo=REPO)
    cmd = [
        sys.executable, "-c", code, str(cpus), fx_path, sf_dir,
        str(passes[0]), str(passes[1]),
    ]
    # pin the whole process tree (JVM + Python workers) to a cpuset so the
    # run emulates an N-core cluster, JVM overhead included in-budget
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=1800, cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"runner failed (cpus={cpus}):\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    replicate = 800
    sf_dir = "/root/testdata/sf0.1"
    if "--quick" in sys.argv:
        replicate, sf_dir = 100, "/root/testdata/sf0.01"
    if "--replicate" in sys.argv:
        replicate = int(sys.argv[sys.argv.index("--replicate") + 1])
    lo, hi = 8, 32
    if "--levels" in sys.argv:
        lo, hi = (int(x) for x in
                  sys.argv[sys.argv.index("--levels") + 1].split(","))
    ratio = hi / lo

    # materialize the shared input corpora once
    sys.path.insert(0, REPO)
    from bench import ensure_fixture_parquet, ensure_synth_parquet
    from docling_plus_spark.plans import build_session

    spark = build_session("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    fx_path = ensure_fixture_parquet(spark, replicate)
    sy_path = ensure_synth_parquet(spark, sf_dir)
    spark.stop()

    if "--interleave" in sys.argv:
        # drift-robust protocol: alternate the two levels in back-to-back
        # JVMs and compute the efficiency PER PAIRED ROUND — hour-scale
        # host throughput drift then cancels inside each pair
        rounds = int(sys.argv[sys.argv.index("--interleave") + 1])
        with_control = "--control" in sys.argv
        effs, ctl_effs, rows = [], [], []
        for i in range(rounds):
            r8 = run_at(lo, fx_path, sy_path, passes=(1, 1))
            c8 = run_control(lo, fx_path) if with_control else None
            r32 = run_at(hi, fx_path, sy_path, passes=(1, 1))
            c32 = run_control(hi, fx_path) if with_control else None
            eff = (r8["total_sec"] / r32["total_sec"]) / ratio
            effs.append(eff)
            line = {"round": i, "eff": round(eff, 3),
                    "docs_per_sec_8": r8["docs_per_sec"],
                    "docs_per_sec_32": r32["docs_per_sec"]}
            if with_control:
                ctl_eff = (c8["sec"] / c32["sec"]) / ratio
                ctl_effs.append(ctl_eff)
                line.update({"ctl_eff": round(ctl_eff, 3),
                             "ctl_docs_per_sec_8": c8["docs_per_sec"],
                             "ctl_docs_per_sec_32": c32["docs_per_sec"],
                             "engine_over_ctl": round(eff / ctl_eff, 3)})
            rows.append((r8, r32, eff, c8, c32))
            print(json.dumps(line), flush=True)
        effs_sorted = sorted(effs)
        median = effs_sorted[len(effs) // 2]
        summary = {"interleaved_rounds": rounds,
                   "levels": [lo, hi],
                   "efficiencies": [round(e, 3) for e in effs],
                   "median_efficiency": round(median, 3)}
        if with_control:
            ctl_sorted = sorted(ctl_effs)
            ctl_median = ctl_sorted[len(ctl_effs) // 2]
            summary.update({
                "control_efficiencies": [round(e, 3) for e in ctl_effs],
                "control_median_efficiency": round(ctl_median, 3),
                "engine_over_control_median": round(median / ctl_median, 3),
            })
        print(json.dumps(summary), flush=True)
        # persist the evidence table
        ts = time.strftime("%Y-%m-%d %H:%M:%S")
        lines = [f"\n## Scaling evidence — interleaved paired rounds, local[{lo}] vs local[{hi}] ({ts})\n",
                 f"\nSame job, same input, alternating local[{lo}]/local[{hi}] fresh JVMs"
                 " (paired rounds cancel hour-scale host drift); paired no-Spark"
                 " multiprocessing control = the box's own core-scaling ceiling.\n",
                 f"\n| round | engine eff | control eff | engine/control |"
                 f" engine docs/s @{lo}→@{hi} | control docs/s @{lo}→@{hi} |",
                 "\n|---|---|---|---|---|---|"]
        for i, (r8, r32, eff, c8, c32) in enumerate(rows):
            ce = (c8["sec"] / c32["sec"]) / ratio if c8 else float("nan")
            lines.append(
                f"\n| {i} | {eff:.3f} | {ce:.3f} | {eff / ce:.3f} |"
                f" {r8['docs_per_sec']} → {r32['docs_per_sec']} |"
                f" {c8['docs_per_sec'] if c8 else '-'} → {c32['docs_per_sec'] if c32 else '-'} |")
        lines.append(f"\n\n**median engine efficiency {median:.3f}"
                     + (f", median control {ctl_median:.3f},"
                        f" engine/control {median / ctl_median:.3f}**"
                        if with_control else "**") + "\n")
        with open(os.path.join(REPO, "BENCH.md"), "a") as fh:
            fh.writelines(lines)
        return

    results = {}
    for cpus in (lo, hi):
        results[cpus] = run_at(cpus, fx_path, sy_path)
        print(json.dumps(results[cpus]))

    t8, t32 = results[lo]["total_sec"], results[hi]["total_sec"]
    eff = (t8 / t32) / ratio
    summary = {
        "n_cores": lo,
        "n4_cores": hi,
        "docs_per_sec_n": results[lo]["docs_per_sec"],
        "docs_per_sec_4n": results[hi]["docs_per_sec"],
        "speedup": round(t8 / t32, 3),
        "scaling_efficiency": round(eff, 3),
        "replicate": replicate,
        "sf_dir": sf_dir,
        "measured_at": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps(summary))

    section = f"""
## Scaling evidence (local[{lo}] vs local[{hi}], {summary['measured_at']})

Same extraction job (prepare → gate → mapInPandas convert → serialize,
shuffle-free), same input ({results[lo]['total_docs']} docs over 128
input-determined parquet splits: reference-HTML fixture corpus
×{replicate} + synth corpus from {sf_dir}), one fresh JVM per
parallelism level:

| cores | fixture sec | synth sec | total sec | docs/sec |
|---|---|---|---|---|
| {lo} (N)   | {results[lo]['fixture_sec']} | {results[lo]['synth_sec']} | {t8} | {results[lo]['docs_per_sec']} |
| {hi} ({ratio:.0f}N) | {results[hi]['fixture_sec']} | {results[hi]['synth_sec']} | {t32} | {results[hi]['docs_per_sec']} |

**speedup {summary['speedup']}× → scaling efficiency (T_N/T_{ratio:.0f}N)/{ratio:.0f} = {summary['scaling_efficiency']}**
(north-rule target ≥ 0.8; cores on one box stand in for executors — the
job has no shuffle on the per-document path, so executor-level scaling has
strictly fewer contention sources than core-level scaling on shared DRAM).
"""
    with open(os.path.join(REPO, "BENCH.md"), "a") as fh:
        fh.write(section)
    print("appended to BENCH.md")


if __name__ == "__main__":
    main()
