"""Tests of the benchmark itself (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import corpora  # noqa: E402
from tracing import parse_metric  # noqa: E402

GENERATORS = {
    "small_pages": (corpora.small_pages, 50),
    "structured_pages": (corpora.structured_pages, 20),
    "mixed_pages": (corpora.mixed_pages, 30),
    "near_dup": (corpora.near_dup, 60),
}


def _files_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(name, tmp_path):
    gen, rows = GENERATORS[name]
    digests = []
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        corpus = gen(seed, rows)
        layout = corpora.write_parquet(corpus.table, str(tmp_path / tag), 3)
        assert layout["rows_per_file"] and sum(layout["rows_per_file"]) == rows
        digests.append(_files_digest(str(tmp_path / tag)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_structured_sizes_are_heavy_tailed_and_hostile_rows_planted():
    c = corpora.structured_pages(3, 200)
    sizes = sorted(len(h) for h in c.table.column("html").to_pylist())
    assert 10_000 < sizes[len(sizes) // 2] < 22_000
    assert sizes[-1] > 150_000
    assert set(c.hostile.values()) == set(corpora.HOSTILE_EXPECT.values())


def test_guard_trips_on_empty_or_miscounted_corpus():
    empty = corpora.small_pages(1, 0)
    with pytest.raises(checks.CorpusError):
        checks.guard_scanned("small_pages", empty.rows, 0)
    with pytest.raises(checks.CorpusError):
        checks.guard_scanned("small_pages", 10, 9)
    checks.guard_scanned("small_pages", 10, 10)


def test_small_check_flags_wrong_text_duplicate_and_missing():
    c = corpora.small_pages(2, 5)
    rows = [{"url": u, "status": "success", "text": t} for u, t in c.expected_text.items()]
    assert checks.check_small(rows, c.expected_text).failed == 0
    bad = [dict(r) for r in rows]
    bad[0]["text"] += " "
    assert checks.check_small(bad, c.expected_text).failed == 1
    assert checks.check_small(rows + rows[:1], c.expected_text).failed == 2
    assert checks.check_small(rows[1:], c.expected_text).failed == 1


def test_once_check_flags_wrong_failure_class_and_duplicates():
    c = corpora.structured_pages(4, 20)
    urls = set(c.table.column("url").to_pylist())
    rows = [{"url": u, "status": "failure" if u in c.hostile else "success",
             "failure_class": c.hostile.get(u)} for u in sorted(urls)]
    assert checks.check_once(rows, urls, c.hostile, "s").failed == 0
    hostile_url = next(iter(c.hostile))
    bad = [dict(r, failure_class="convert_error:X") if r["url"] == hostile_url else r for r in rows]
    assert checks.check_once(bad, urls, c.hostile, "s").failed == 1
    assert checks.check_once(rows + rows[:1], urls, c.hostile, "s").failed == 2


def test_sample_check_flags_one_byte_difference():
    ref = {"u": {"text": "a", "md": "# a", "itxt": "x"}}
    assert checks.check_sample({"u": dict(ref["u"])}, ref, ("text", "md", "itxt"), "s").failed == 0
    assert checks.check_sample({"u": dict(ref["u"], md="# b")}, ref, ("text", "md", "itxt"), "s").failed == 1
    assert checks.check_sample({}, ref, ("text",), "s").failed == 1


def test_committed_check_flags_redo_gaps_and_missing_urls():
    urls = {"a", "b", "c"}
    rows = [{"url": "a", "epoch": 0}, {"url": "b", "epoch": 1}, {"url": "c", "epoch": 2}]
    tally, redo = checks.check_committed(rows, urls, [0, 1, 2], {"a"})
    assert tally.failed == 0 and redo == 0
    tally, redo = checks.check_committed(rows + [{"url": "a", "epoch": 2}], urls, [0, 1, 2], {"a"})
    assert redo == 1 and tally.failed == 2
    assert checks.check_committed(rows, urls, [0, 2, 3], {"a"})[0].failed == 1
    assert checks.check_committed(rows[:2], urls, [0, 1], {"a"})[0].failed == 1


def test_pair_check_flags_order_missing_and_extra():
    exact = {(1, 2), (3, 4)}
    assert checks.check_pairs([(1, 2), (3, 4)], "f", must={(1, 2)}, exact=exact).failed == 0
    assert checks.check_pairs([(2, 1), (3, 4)], "f").failed == 1
    assert checks.check_pairs([(3, 4)], "f", must={(1, 2)}).failed == 1
    assert checks.check_pairs([(1, 2), (3, 4), (5, 6)], "f", exact=exact).failed == 1


def test_near_dup_plants_exact_pairs_and_brute_force_sets():
    c = corpora.near_dup(5, 400)
    exp = corpora.near_dup_expected(c)
    assert c.planted["exact"]
    assert c.planted["exact"] <= exp["simhash"]
    assert exp["dhash"], "planted image near pairs"
    assert all(a < b for a, b in exp["simhash"] | exp["dhash"])


def test_dhash_reference_matches_engine_hash():
    from docling_plus_spark.operators.phash import dhash_of_bmp, make_seed_bmp

    seeds = [1, 40, 7200, 123457, 99991, 1 << 29]
    for seed, ref in zip(seeds, corpora.dhash_ref(np.array(seeds)).tolist()):
        assert int(dhash_of_bmp(make_seed_bmp(seed))[2], 2) == ref


def test_digest_is_order_independent_and_content_sensitive():
    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    assert checks.digest(rows, ("a", "b")) == checks.digest(rows[::-1], ("a", "b"))
    assert checks.digest(rows, ("a", "b")) != checks.digest(rows[:1], ("a", "b"))


def test_parse_metric_formats():
    assert parse_metric("1,234") == 1234
    assert parse_metric("1.5 s") == 1500
    assert parse_metric("total (min, med, max (stageId: taskId))\n252 ms (61 ms, 64 ms, 64 ms (stage 0.0: task 0))") == 252
    assert parse_metric("2.0 MiB") == 2 * (1 << 20)
