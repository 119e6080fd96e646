"""The workloads, driven through the engine's public entry points.

Each run:

1. set-up: Spark session (``plans.build_session``), seeded corpus written
   as parquet, one cold pass that also warms the JVM and the Python workers;
2. timed passes until ``--seconds`` have elapsed (at least ``MIN_PASSES``),
   each checked for correctness;
3. with ``--trace 1``: spans, Spark REST metrics and an in-process pass over
   a seeded sample for the per-layer metrics, then one traced-only section
   (near-dup families after small_pages, the job path after
   structured_pages).
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import corpora
from tracing import UsageSampler, SparkRest, Tracer, codegen_fallbacks, node_metric

MIN_PASSES = 3
SETTLE_SECONDS = 10.0

# corpus rows and parquet files per workload, sized so a pass takes a few
# seconds on 4 cores (long enough that per-job overhead does not dominate,
# short enough for several passes per run)
ROWS = {"small_pages": 8_000, "structured_pages": 120}
FILES = {"small_pages": 8, "structured_pages": 8}
# seeded sample for the in-process pass (and the byte-equality check)
SAMPLE = {"small_pages": 400, "structured_pages": 16}
RESUME_SAMPLE = 16

# The job path and the near-dup families are measured as sections of the
# traced runs only: each pays a cold start (~15 s and ~45 s on 4 cores)
# that does not fit the timed runs' budget (see README.md).
RESUME_ROWS = 400
RESUME_EPOCHS_PER_PASS = 2
NEAR_DUP_ROWS = 300


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)  # end-to-end
    layers: dict = field(default_factory=dict)  # per-layer
    tally: checks.Tally = field(default_factory=checks.Tally)
    info: dict = field(default_factory=dict)  # printed, not gated


class Bench:
    """Session, timers and tracing shared by the workloads."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str, log_path: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work, self.log_path = work, log_path
        self.n = len(os.sched_getaffinity(0))
        self.tracer = Tracer(trace)
        self.res = Result()
        self.spark = None
        self.rest = None
        self.usage = UsageSampler()
        self._group = 0

    # -- set-up -----------------------------------------------------------
    def start(self) -> None:
        from docling_plus_spark.plans import build_session

        t0 = time.perf_counter()
        with self.tracer.span("plans.build_session"):
            self.spark = build_session(f"local[{self.n}]")
        self.res.layers["setup.session_s"] = time.perf_counter() - t0
        self.rest = SparkRest(self.spark.sparkContext)

    def stop(self) -> None:
        """Stop the session, then the JVM itself: PySpark leaves the
        gateway JVM running until it reads EOF on its stdin, which on its
        own happens only after this process has exited."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                SparkContext._gateway = SparkContext._jvm = None
                proc = getattr(gateway, "proc", None)
                if proc is not None and proc.stdin is not None:
                    proc.stdin.close()
                gateway.shutdown()

    def guard_scan(self, corpus: corpora.Corpus, path: str) -> None:
        """Count what the engine actually scans (after the cold pass, so
        the count is not charged with JVM start-up) and refuse a short,
        long or empty corpus."""
        scanned = self.spark.read.parquet(path).count()
        self.res.info.update(generated_rows=corpus.rows, scanned_rows=scanned)
        checks.guard_scanned(self.workload, corpus.rows, scanned)

    def group(self, label: str) -> str:
        """Tag the next Spark jobs so the REST metrics can find them."""
        self._group += 1
        gid = f"{label}-{self._group}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    # -- timing -----------------------------------------------------------
    def passes(self, run_pass) -> list:
        """Run ``run_pass(k)`` until the time budget is spent; returns the
        pass wall times. ``run_pass`` returns a callable that does the
        checking, after the clock stops."""
        times = []
        deadline = time.perf_counter() + self.seconds
        while len(times) < MIN_PASSES or time.perf_counter() < deadline:
            k = len(times)
            with self.usage.active():
                t0 = time.perf_counter()
                after = run_pass(k)
                times.append(time.perf_counter() - t0)
            after()
        return times

    def finish(self, times: list, docs: int, nbytes: int, corpus_s: float, cold_s: float) -> None:
        m, lay = self.res.metrics, self.res.layers
        rates = [docs / t for t in times]
        m["docs_per_s"] = statistics.median(rates)
        m["mb_per_s"] = statistics.median(nbytes / 1e6 / t for t in times)
        m["setup_s"] = lay["setup.session_s"] + corpus_s + cold_s
        m["ok_ratio"] = 1.0 - self.res.tally.failed / max(1, self.res.tally.checked)
        m["worker_rss_mb"] = statistics.median(p["python"] for p in self.usage.peaks) / 1e6
        lay["spark.jvm_cpu_ms_per_doc"] = statistics.median(c["jvm"] * 1e3 / docs for c in self.usage.cpu)
        lay["operators.extract.worker_cpu_ms_per_doc"] = statistics.median(c["python"] * 1e3 / docs for c in self.usage.cpu)
        lay["spark.jvm_rss_mb"] = statistics.median(p["jvm"] for p in self.usage.peaks) / 1e6
        lay["spark.tree_peak_rss_mb"] = max(p["total"] for p in self.usage.peaks) / 1e6
        lay["setup.corpus_s"] = corpus_s
        lay["setup.warmup_s"] = cold_s
        lay["plans.cold_pass_s"] = cold_s
        lay["plans.warm_pass_s"] = statistics.median(times)
        lay["plans.codegen_fallbacks"] = codegen_fallbacks(self.log_path)
        self.res.info.update(
            passes=len(times), pass_s=[round(t, 4) for t in times], docs_per_pass=docs,
            fail_ratio=self.res.tally.failed / max(1, self.res.tally.checked),
            peak_rss_mb=lay["spark.tree_peak_rss_mb"],
            pass_peak_rss_mb=[{k: round(v / 1e6) if k != "procs" else v for k, v in p.items()} for p in self.usage.peaks],
        )

    # -- REST helpers -------------------------------------------------------
    def stage_metrics(self, gid: str) -> dict:
        """The busiest stage of a job group (tasks, GC and CPU ms, max over
        median task run time) and the shuffle bytes all its stages wrote."""
        stages = self.rest.stages(gid)
        st = max(stages, key=lambda s: s["executorRunTime"])
        q = self.rest.task_quantiles(st)
        return {
            "tasks": st["numTasks"],
            "jvm_gc_ms": st["jvmGcTime"],
            "cpu_ms": st["executorCpuTime"] / 1e6,
            "task_max_over_median": q[1] / q[0] if q[0] else 0.0,
            "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        }


def _extract_node_layers(nodes: list, extract_ms: list, docs: int) -> dict:
    """MapInPandas SQL metrics plus the ``extract_ms`` output column."""
    py_ms = node_metric(nodes, "MapInPandas", "time to run Python workers")
    return {
        "operators.extract.py_run_ms_per_doc": py_ms / docs,
        "operators.extract.to_py_bytes_per_doc": node_metric(nodes, "MapInPandas", "data sent to Python workers") / docs,
        "operators.extract.from_py_bytes_per_doc": node_metric(nodes, "MapInPandas", "data returned from Python workers") / docs,
        "operators.extract.boundary_ms_per_doc": (py_ms - sum(extract_ms)) / docs,
        "operators.extract.extract_ms_p50": statistics.median(extract_ms),
        "operators.extract.extract_ms_p99": statistics.quantiles(extract_ms, n=100)[98],
        "operators.extract.extract_ms_samples": len(extract_ms),
    }


def _median_layers(samples: list) -> dict:
    keys = {k for s in samples for k in s}
    return {k: statistics.median(s[k] for s in samples if k in s) for k in keys}


# ---------------------------------------------------------------------------
# in-process pass (no Spark): layer split of convert + serializers


def in_process(rows: list, reps: int = 3) -> dict:
    """Single-threaded pass over ``rows`` (dicts with url/html) timing
    ``dom.parse_html``, ``html.convert_html`` and each serializer, plus the
    control loop the engine runs per document (convert + text/md/itxt)."""
    from docling_plus_spark.doc.document import TableItem
    from docling_plus_spark.doc.serializers import export_to_element_tree, export_to_markdown, export_to_text
    from docling_plus_spark.dom import parse_html
    from docling_plus_spark.formats import convert_bytes
    from docling_plus_spark.html import convert_html

    n = len(rows)
    acc = dict.fromkeys(("parse", "convert", "text", "md", "itxt", "json"), 0.0)
    size = dict.fromkeys(("text", "md", "itxt", "json"), 0)
    items = tables = 0
    for r in rows:
        html = r["html"]
        t0 = time.perf_counter()
        parse_html(html)
        t1 = time.perf_counter()
        doc = convert_html(html, name="doc", filename="doc.html")
        t2 = time.perf_counter()
        acc["parse"] += t1 - t0
        acc["convert"] += t2 - t1
        for key, fn in (("text", export_to_text), ("md", export_to_markdown),
                        ("itxt", export_to_element_tree), ("json", lambda d: d.export_to_json())):
            t = time.perf_counter()
            s = fn(doc)
            acc[key] += time.perf_counter() - t
            size[key] += len(s.encode())
        its = [it for it, _ in doc.iterate_items(doc.body, with_groups=False)]
        items += len(its)
        tables += sum(1 for it in its if isinstance(it, TableItem))
    loops = []
    for _ in range(reps):
        t = time.perf_counter()
        for r in rows:
            doc = convert_bytes(r["html"], "html", name="doc", filename="doc.html")
            export_to_text(doc)
            export_to_markdown(doc)
            export_to_element_tree(doc)
        loops.append(time.perf_counter() - t)
    out = {
        "dom.parse_ms_per_doc": acc["parse"] * 1e3 / n,
        "html.build_ms_per_doc": max(0.0, acc["convert"] - acc["parse"]) * 1e3 / n,
        "html.items_per_doc": items / n,
        "html.tables_per_doc": tables / n,
        "control.docs_per_s": n / statistics.median(loops),
    }
    for key in ("text", "md", "itxt", "json"):
        out[f"doc.{key}_ms_per_doc"] = acc[key] * 1e3 / n
        out[f"doc.{key}_bytes_per_doc"] = size[key] / n
    return out


def reference_outputs(rows: list, include_json: bool = False) -> dict:
    """url -> the engine's per-document outputs computed in-process with
    the same public functions (the byte-equality reference)."""
    from docling_plus_spark.doc.document import TableItem
    from docling_plus_spark.doc.serializers import export_to_element_tree, export_to_markdown, export_to_text
    from docling_plus_spark.formats import convert_bytes

    out = {}
    for r in rows:
        name = r["url"].rsplit("/", 1)[-1].split("?", 1)[0] or "doc"
        stem = name.rsplit(".", 1)[0] if "." in name else name
        doc = convert_bytes(r["html"], "html", name=stem, filename=name)
        its = [it for it, _ in doc.iterate_items(doc.body, with_groups=False)]
        ref = {
            "text": export_to_text(doc), "md": export_to_markdown(doc),
            "itxt": export_to_element_tree(doc), "num_items": len(its),
            "num_tables": sum(1 for it in its if isinstance(it, TableItem)),
        }
        if include_json:
            ref["doc_json"] = doc.export_to_json()
        out[r["url"]] = ref
    return out


def _sample(corpus: corpora.Corpus, k: int) -> list:
    rows = [r for r in corpus.table.to_pylist() if r["url"] not in corpus.hostile]
    return random.Random(f"sample:{corpus.seed}").sample(rows, min(k, len(rows)))


# ---------------------------------------------------------------------------
# extraction workloads


def _extraction(b: Bench, corpus_fn, sink_cols) -> None:
    """small_pages / structured_pages: scan → extract_pipeline → parquet."""
    from docling_plus_spark.plans import extract_pipeline, prepare_pages

    b.start()
    t = time.perf_counter()
    corpus = corpus_fn(b.seed, ROWS[b.workload])
    src = os.path.join(b.work, "corpus")
    b.res.info["layout"] = corpora.write_parquet(corpus.table, src, FILES[b.workload])
    corpus_s = time.perf_counter() - t
    out_dir = os.path.join(b.work, "out")
    urls = set(corpus.table.column("url").to_pylist())
    sample = _sample(corpus, SAMPLE[b.workload])
    ref = reference_outputs(sample) if b.workload == "structured_pages" else {}
    traced_cols = sink_cols if "extract_ms" in sink_cols else sink_cols + ["extract_ms"]

    def one_pass(cols, gid_label):
        gid = b.group(gid_label)
        with b.tracer.span("plans.extract_pipeline"):
            df = extract_pipeline(b.spark.read.parquet(src))
        with b.tracer.span("sink.parquet"):
            df.select(*cols).write.mode("overwrite").parquet(out_dir)
        return gid

    def check():
        rows = pq.read_table(out_dir, columns=sink_cols).to_pylist()
        if b.workload == "small_pages":
            tally = checks.check_small(rows, corpus.expected_text)
        else:
            tally = checks.check_once(rows, urls, corpus.hostile, b.workload)
            by_url = {r["url"]: r for r in rows}
            tally.merge(checks.check_sample(by_url, ref, ("text", "md", "itxt", "num_items", "num_tables"), b.workload))
        b.res.tally.merge(tally)
        return rows

    # warm-up: the cold pass (JVM codegen, Python workers start), then
    # untimed passes for SETTLE_SECONDS: the JIT keeps speeding passes up
    # for ~15 s of work after the cold pass, and timing inside that curve
    # made run-to-run spread several times wider
    t = time.perf_counter()
    one_pass(sink_cols, "cold")
    cold_s = time.perf_counter() - t
    b.guard_scan(corpus, src)
    check()
    t = time.perf_counter()
    while time.perf_counter() - t < SETTLE_SECONDS:
        one_pass(sink_cols, "settle")
    b.res.layers["plans.settle_s"] = time.perf_counter() - t

    traced = []  # (gid, pass seconds) of traced passes
    untraced = []
    extract_ms = []  # the extract_ms column of each traced pass

    def run_pass(k):
        # with tracing on, odd passes also keep extract_ms and are read
        # back through REST; even passes are the untraced control
        is_traced = b.trace and k % 2 == 1
        t0 = time.perf_counter()
        gid = one_pass(traced_cols if is_traced else sink_cols, "pass")
        dt = time.perf_counter() - t0
        (traced if is_traced else untraced).append((gid, dt))

        def after():
            rows = check()
            if is_traced:
                extract_ms.append(pq.read_table(out_dir, columns=["extract_ms"]).column("extract_ms").to_pylist())
            b.res.info["digest"] = checks.digest(rows, tuple(sink_cols))
        return after

    times = b.passes(run_pass)
    b.finish(times, corpus.rows, corpus.input_bytes, corpus_s, cold_s)
    if not b.trace:
        return

    # -- per-layer (traced run only) ----------------------------------------
    lay = b.res.layers
    n = corpus.rows
    rate = lambda ps: statistics.median(n / dt for _, dt in ps)  # noqa: E731
    lay["trace.docs_per_s_traced_over_untraced"] = rate(traced) / rate(untraced)
    samples = []
    for (gid, _), ems in zip(traced, extract_ms):
        nodes = b.rest.sql_nodes(gid)
        st = b.stage_metrics(gid)
        samples.append({
            "sources.scan_ms_per_kdoc": node_metric(nodes, "Scan", "scan time") / (n / 1e3),
            **_extract_node_layers(nodes, ems, n),
            "operators.extract.tasks": st["tasks"],
            "operators.extract.jvm_gc_ms_per_doc": st["jvm_gc_ms"] / n,
            "operators.extract.executor_cpu_ms_per_doc": st["cpu_ms"] / n,
            "operators.extract.task_max_over_median": st["task_max_over_median"],
        })
    lay.update(_median_layers(samples))
    prep = []
    for _ in range(3):
        t = time.perf_counter()
        with b.tracer.span("plans.prepare_pages"):
            prepare_pages(b.spark.read.parquet(src)).write.format("noop").mode("overwrite").save()
        prep.append(time.perf_counter() - t)
    lay["plans.prepare_ms_per_kdoc"] = statistics.median(prep) * 1e3 / (n / 1e3)
    with b.tracer.span("in_process"):
        ip = in_process(sample)
    lay.update(ip)
    lay["control.engine_ratio"] = rate(untraced) / (b.n * ip["control.docs_per_s"])
    if b.workload == "small_pages":
        near_dup_layers(b)
    else:
        resume_layers(b)


def small_pages(b: Bench) -> None:
    _extraction(b, corpora.small_pages, ["url", "status", "text"])


def structured_pages(b: Bench) -> None:
    from docling_plus_spark.operators.extract import EXTRACT_SCHEMA

    cols = [f.name for f in EXTRACT_SCHEMA.fields] + ["doc_hash", "format", "nbytes"]
    _extraction(b, corpora.structured_pages, cols)


# ---------------------------------------------------------------------------
# traced-run sections: the job path and the near-dup families


def resume_layers(b: Bench) -> None:
    """The job path, ``plans.incremental.run_epoch`` over a
    ``SnapshotTable``: commit about half of a mixed corpus as epoch 0
    (cold, unreported), then drain the rest in ``RESUME_EPOCHS_PER_PASS``
    limit-bounded epochs with ``include=("json",)`` and ``num_partitions``
    set, as ``job.py`` does, with spans on the snapshot and epoch calls."""
    import docling_plus_spark.plans.incremental as incremental
    from docling_plus_spark.sources import SnapshotTable

    corpus = corpora.mixed_pages(b.seed, RESUME_ROWS)
    src = os.path.join(b.work, "resume_corpus")
    corpora.write_parquet(corpus.table, src, b.n * 2)
    urls = set(corpus.table.column("url").to_pylist())
    sizes = dict(zip(corpus.table.column("url").to_pylist(), map(len, corpus.table.column("html").to_pylist())))
    half = corpus.rows // 2
    limit = -(-(corpus.rows - half) // RESUME_EPOCHS_PER_PASS)
    ref = reference_outputs(_sample(corpus, RESUME_SAMPLE), include_json=True)
    pages = b.spark.read.parquet(src)
    scanned = pages.count()
    b.res.info.update(resume_generated_rows=corpus.rows, resume_scanned_rows=scanned)
    checks.guard_scanned("resume_epochs", corpus.rows, scanned)
    kw = dict(num_partitions=b.n, include=("json",))
    root = os.path.join(b.work, "resume")
    res = SnapshotTable(b.spark, os.path.join(root, "results"))
    met = SnapshotTable(b.spark, os.path.join(root, "metrics"))
    b.group("resume-cold")
    incremental.run_epoch(pages, res, met, limit=half, **kw)
    first = pq.read_table(os.path.join(res.root, res.manifest()["epochs"][0]["dir"]), columns=["url"])
    first_urls = set(first.column("url").to_pylist())
    drained = corpus.rows - len(first_urls)
    drained_bytes = sum(v for u, v in sizes.items() if u not in first_urls)

    tr = b.tracer
    restore: list = []
    tr.wrap(incremental, "run_epoch", "plans.incremental.run_epoch", restore)
    tr.wrap(SnapshotTable, "done_keys", "sources.snapshot.done_keys", restore)
    tr.wrap(SnapshotTable, "commit", "sources.snapshot.commit", restore)
    # one span name per table: results (the sink) and metrics (lineage)
    tr.wrap(SnapshotTable, "stage", lambda table, *_: "sources.snapshot.stage:" + os.path.basename(table.root), restore)
    mark = len(tr.spans)
    before = _dir_bytes(root)
    b.group("resume")
    epochs = 0
    try:
        while incremental.run_epoch(pages, res, met, limit=limit, **kw)["processed"]:
            epochs += 1
    finally:
        Tracer.unwrap(restore)

    man = res.manifest()["epochs"]
    rows = []
    for e in man:
        part = pq.read_table(os.path.join(res.root, e["dir"])).to_pylist()
        for r in part:
            r["epoch"] = e["epoch"]
        rows += part
    tally, redo = checks.check_committed(rows, urls, [e["epoch"] for e in man], first_urls)
    tally.merge(checks.check_once(rows, urls, corpus.hostile, "resume_epochs"))
    fields = ("text", "md", "itxt", "num_items", "num_tables", "doc_json")
    tally.merge(checks.check_sample({r["url"]: r for r in rows}, ref, fields, "resume_epochs"))
    b.res.tally.merge(tally)
    b.res.info.update(
        resume_epochs=epochs,
        resume_digest=checks.digest(rows, ("url", "status", "failure_class", "text", "md", "itxt", "doc_json")),
    )
    n_ep = max(1, epochs)
    b.res.layers.update({
        "sources.snapshot.done_keys_ms": tr.total_ms("sources.snapshot.done_keys", mark) / max(1, tr.count("sources.snapshot.done_keys", mark)),
        "sources.snapshot.stage_ms_per_doc": tr.total_ms("sources.snapshot.stage:results", mark) / drained,
        "sources.snapshot.commit_ms": tr.total_ms("sources.snapshot.commit", mark) / n_ep,
        "sources.snapshot.bytes_written_per_input_byte": (_dir_bytes(root) - before) / drained_bytes,
        "plans.incremental.epoch_s": tr.total_ms("plans.incremental.run_epoch", mark) / 1e3 / max(1, tr.count("plans.incremental.run_epoch", mark)),
        "plans.lineage_ms": tr.total_ms("sources.snapshot.stage:metrics", mark) / n_ep,
        "plans.incremental.redo_docs": redo,
    })


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


# ---------------------------------------------------------------------------
# near_dup: the five banded candidate-pair families

FAMILIES = (("minhash", "dedup"), ("winnow", "dedup"), ("simhash", "dedup"), ("dhash", "phash"), ("lsh", "ann"))


def _family_plans(df):
    """family -> zero-arg callable returning the (id_a, id_b, score) rows."""
    from pyspark.sql import functions as F

    from docling_plus_spark.operators.ann import embedding_near_dup
    from docling_plus_spark.operators.dedup import (
        minhash_candidate_pairs, minhash_prepare, simhash, simhash_near_pairs, winnow_candidate_pairs,
    )
    from docling_plus_spark.operators.phash import attach_seed_images, dhash_near_pairs, image_dhash

    def media():
        return attach_seed_images(df.select(F.col("doc_id").alias("media_id"), "seed"), "seed")

    return {
        "minhash": lambda: minhash_candidate_pairs(minhash_prepare(df, "doc_id", "text")).collect(),
        "winnow": lambda: winnow_candidate_pairs(df, "doc_id", "text").collect(),
        "simhash": lambda: simhash_near_pairs(simhash(df, "doc_id", "text")).collect(),
        "dhash": lambda: dhash_near_pairs(image_dhash(media())).collect(),
        "lsh": lambda: embedding_near_dup(df, id_col="doc_id", vec_col="embedding").collect(),
    }


def _bucket_stats(df) -> dict:
    """family -> (largest bucket, within-bucket candidate pairs
    sum(m * (m - 1) / 2)) of the keys each family's self-join buckets on,
    recomputed from the same public key functions (trace only). Counted
    from the keys rather than from the join node because Spark folds the
    id order and score filters into the join condition."""
    from pyspark.sql import functions as F

    from docling_plus_spark.operators.ann import lsh_table_keys
    from docling_plus_spark.operators.dedup import SIMHASH_BITS, SIMHASH_BLOCKS, minhash_prepare, simhash, winnow_fingerprints_exploded
    from docling_plus_spark.operators.phash import BAND_BITS, N_BANDS, attach_seed_images, image_dhash

    def top(keyed, *key):
        m = F.col("count")
        r = keyed.groupBy(*key).count().agg(F.max(m), F.sum(m * (m - 1) / 2)).first()
        return int(r[0]), int(r[1])

    width = SIMHASH_BITS // SIMHASH_BLOCKS
    sim = simhash(df, "doc_id", "text")
    sim_keys = sim.select(F.explode(F.array(*[
        F.concat(F.lit(f"{i}:"), F.shiftright("simhash", i * width).bitwiseAND((1 << width) - 1).cast("string"))
        for i in range(SIMHASH_BLOCKS)])).alias("k"))
    hashes = image_dhash(attach_seed_images(df.select(F.col("doc_id").alias("media_id"), "seed"), "seed"))
    reps = hashes.filter("status = 'decoded'").groupBy("dhash").agg(F.min("media_id").alias("id"))
    dh_keys = reps.select(F.posexplode(F.transform(
        F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
        lambda i: F.col("dhash").substr(i * BAND_BITS + 1, F.lit(BAND_BITS)))).alias("b", "k"))
    return {
        "minhash": top(minhash_prepare(df, "doc_id", "text"), "band_key"),
        "winnow": top(winnow_fingerprints_exploded(df, "doc_id", "text"), "fingerprint"),
        "simhash": top(sim_keys, "k"),
        "dhash": top(dh_keys, "b", "k"),
        "lsh": top(df.select(F.explode(lsh_table_keys(F.col("embedding"))).alias("k")), "k"),
    }


def near_dup_layers(b: Bench) -> None:
    """Per-layer metrics of the five families over the seeded near-dup
    corpus: one cold round (checked, not reported), one measured round
    (checked, spans + REST metrics), then bucket sizes per family."""
    corpus = corpora.near_dup(b.seed, NEAR_DUP_ROWS)
    src = os.path.join(b.work, "near_dup")
    corpora.write_parquet(corpus.table, src, b.n)
    expected = corpora.near_dup_expected(corpus)
    exact = corpus.planted["exact"]
    df = b.spark.read.parquet(src)
    scanned = df.count()
    b.res.info.update(near_dup_generated_rows=corpus.rows, near_dup_scanned_rows=scanned)
    checks.guard_scanned("near_dup", corpus.rows, scanned)
    plans = _family_plans(df)

    def run_all(label):
        out, gids, ms = {}, {}, {}
        for fam, mod in FAMILIES:
            gids[fam] = b.group(f"{label}-{fam}")
            with b.tracer.span(f"operators.{mod}.{fam}"):
                t0 = time.perf_counter()
                out[fam] = plans[fam]()
                ms[fam] = (time.perf_counter() - t0) * 1e3
        t = checks.Tally()
        t.merge(checks.check_pairs([(r.id_a, r.id_b) for r in out["minhash"]], "minhash", must=exact))
        t.merge(checks.check_pairs([(r.id_a, r.id_b) for r in out["winnow"]], "winnow", must=exact))
        t.merge(checks.check_pairs([(r.id_a, r.id_b) for r in out["simhash"]], "simhash", must=exact, exact=expected["simhash"]))
        t.merge(checks.check_pairs([(r.id_a, r.id_b) for r in out["dhash"]], "dhash", exact=expected["dhash"]))
        t.merge(checks.check_pairs([(r.id_a, r.id_b) for r in out["lsh"]], "lsh", must=exact))
        b.res.tally.merge(t)
        b.res.info["near_dup_digest"] = checks.digest(((fam, tuple(r)) for fam in out for r in out[fam]), (0, 1))
        b.res.info["near_dup_pairs"] = {f: len(v) for f, v in out.items()}
        return out, gids, ms

    run_all("nd-cold")
    out, gids, ms = run_all("nd")
    b.group("nd-buckets")
    buckets = _bucket_stats(df)
    lay = b.res.layers
    for fam, mod in FAMILIES:
        p = f"operators.{mod}.{fam}"
        max_bucket, cands = buckets[fam]
        st = b.stage_metrics(gids[fam])
        lay[f"{p}_ms"] = ms[fam]
        lay[f"{p}_candidates"] = cands
        lay[f"{p}_pairs"] = len(out[fam])
        lay[f"{p}_yield"] = len(out[fam]) / cands if cands else 0.0
        lay[f"{p}_shuffle_mb"] = st["shuffle_bytes"] / 1e6
        lay[f"{p}_task_max_over_median"] = st["task_max_over_median"]
        lay[f"{p}_max_bucket"] = max_bucket


WORKLOADS = {
    "small_pages": small_pages,
    "structured_pages": structured_pages,
}
