"""Correctness checks and output digests.

Each check returns a :class:`Tally` of outputs checked and outputs that
failed; a workload's ``fail_ratio`` is failed / checked over all its
checks. Expected values come from the generators (small_pages text), from
brute force (near-dup pair sets) or from the in-process path of the same
public functions without Spark (the structured-page sample).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass, field


class CorpusError(RuntimeError):
    """The engine scanned another number of rows than was generated."""


def guard_scanned(name: str, generated: int, scanned: int) -> None:
    """Refuse to report on an empty corpus or a short/long scan."""
    if generated <= 0:
        raise CorpusError(f"{name}: generated corpus is empty")
    if scanned != generated:
        raise CorpusError(f"{name}: scanned {scanned} rows, generated {generated}")


@dataclass
class Tally:
    checked: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def add(self, ok: bool, note: str = "") -> None:
        self.checked += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 10:
                self.notes.append(note)

    def merge(self, other: "Tally") -> "Tally":
        self.checked += other.checked
        self.failed += other.failed
        self.notes += other.notes[: max(0, 10 - len(self.notes))]
        return self


def check_small(rows: list, expected: dict) -> Tally:
    """Every url once, status success, text equal to the generator's text."""
    t = Tally()
    counts = Counter(r["url"] for r in rows)
    for r in rows:
        want = expected.get(r["url"])
        ok = counts[r["url"]] == 1 and r["status"] == "success" and r["text"] == want
        t.add(ok, f"small_pages {r['url']}: status={r['status']} text={str(r['text'])[:60]!r}")
    for url in expected.keys() - counts.keys():
        t.add(False, f"small_pages {url}: missing")
    return t


def check_once(rows: list, urls: set, hostile: dict, name: str) -> Tally:
    """Every url exactly once; hostile rows carry their failure_class;
    every other row succeeded."""
    t = Tally()
    counts = Counter(r["url"] for r in rows)
    for r in rows:
        url = r["url"]
        if url in hostile:
            ok = r["status"] == "failure" and r["failure_class"] == hostile[url]
        else:
            ok = r["status"] == "success"
        ok = ok and counts[url] == 1 and url in urls
        t.add(ok, f"{name} {url}: n={counts[url]} status={r['status']} class={r['failure_class']}")
    for url in urls - counts.keys():
        t.add(False, f"{name} {url}: missing")
    return t


def check_sample(rows_by_url: dict, reference: dict, fields: tuple, name: str) -> Tally:
    """Sampled rows byte-equal to the in-process reference outputs."""
    t = Tally()
    for url, ref in reference.items():
        got = rows_by_url.get(url)
        bad = [f for f in fields if got is None or got.get(f) != ref[f]]
        t.add(not bad, f"{name} {url}: differs in {bad}")
    return t


def check_committed(rows: list, urls: set, epochs: list, first_epoch_urls: set) -> tuple:
    """resume_epochs table invariants. Returns (tally, redo_docs)."""
    t = Tally()
    counts = Counter(r["url"] for r in rows)
    redo = sum(1 for r in rows if r["url"] in first_epoch_urls and r["epoch"] != 0)
    t.add(set(counts) == urls and all(c == 1 for c in counts.values()),
          f"resume_epochs: {len(counts)} distinct urls of {len(urls)}, max count {max(counts.values(), default=0)}")
    t.add(redo == 0, f"resume_epochs: {redo} committed urls processed again")
    t.add(epochs == list(range(len(epochs))), f"resume_epochs: epochs {epochs} not contiguous")
    return t, redo


def check_pairs(pairs: list, name: str, must: set = frozenset(), exact: set = None) -> Tally:
    """id_a < id_b on every pair; ``must`` pairs all present; when
    ``exact`` is given the pair set equals it (pigeonhole-complete)."""
    t = Tally()
    got = set()
    for a, b in pairs:
        t.add(a < b, f"{name}: pair ({a}, {b}) not ordered")
        got.add((a, b))
    t.add(len(got) == len(pairs), f"{name}: {len(pairs) - len(got)} duplicate pairs")
    missing = must - got
    t.add(not missing, f"{name}: {len(missing)} planted pairs missing, e.g. {sorted(missing)[:3]}")
    if exact is not None:
        t.add(got == exact, f"{name}: {len(exact - got)} missing / {len(got - exact)} extra vs brute force")
    return t


def digest(rows, fields: tuple) -> str:
    """Order-independent digest: sum of per-row sha256 mod 2**128."""
    acc = 0
    for r in rows:
        h = hashlib.sha256(repr(tuple(r[f] for f in fields)).encode()).digest()
        acc = (acc + int.from_bytes(h[:16], "big")) % (1 << 128)
    return f"{acc:032x}"
