"""Seeded corpus generators and their fixed parquet layout.

Every corpus is a pure function of ``(seed, rows)``: the same seed gives
byte-identical parquet files, another seed gives other content with the
same size histogram (sizes come from stratified quantiles, so run-to-run
spread reflects the engine, not a lucky draw of giant pages). The engine
only ever sees the materialized parquet; the expected outputs stay on the
benchmark side.

Layout (recorded in every run's output and in README.md): ``files``
parquet files named ``part-00000.parquet`` …, rows split contiguously, one
row group per file, snappy compression; page tables are split so every
file holds the same bytes (:func:`balanced_split`).
"""

from __future__ import annotations

import hashlib
import heapq
import math
import os
import random
import statistics
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

NEAR_DUP_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("seed", pa.int64()),
        ("embedding", pa.list_(pa.float64())),
    ]
)

_EPOCH0_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

# hostile rows and the failure_class the engine must give each of them
HOSTILE_EXPECT = {
    "empty": "invalid_input",
    "raster": "needs_ocr",
    "xml": "unsupported_format:xml",
}


@dataclass
class Corpus:
    """Generated rows plus everything the checks need to know about them."""

    seed: int
    table: pa.Table
    input_bytes: int  # html bytes (extraction) or text bytes (near_dup)
    expected_text: dict = field(default_factory=dict)  # url -> text
    hostile: dict = field(default_factory=dict)  # url -> failure_class
    planted: dict = field(default_factory=dict)  # kind -> set of (id_a, id_b)

    @property
    def rows(self) -> int:
        return self.table.num_rows


def _words(rng: random.Random, n: int) -> list[str]:
    """A seeded pseudo-vocabulary: lowercase ASCII, no markup characters."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 10))))
    return sorted(out)


def _stratified(rng: random.Random, n: int) -> list[float]:
    """n quantiles, one per stratum of [0, 1), in seeded order."""
    qs = [(i + rng.random()) / n for i in range(n)]
    rng.shuffle(qs)
    return qs


def _sentence(rng: random.Random, vocab: list, n: int) -> str:
    return " ".join(rng.choices(vocab, k=n))


# ---------------------------------------------------------------------------
# small_pages: template pages whose extracted text is known exactly


def small_pages(seed: int, rows: int) -> Corpus:
    """~0.3-2 KB pages: title, h1 ``Doc <id>``, one or two paragraphs.

    The engine's text for each row is ``"Doc <id>\\n" + "\\n".join(paras)``
    (the title is furniture), which the check compares exactly.
    """
    rng = random.Random(f"small:{seed}")
    vocab = _words(rng, 800)
    urls, htmls, expected = [], [], {}
    for i, q in enumerate(_stratified(rng, rows)):
        doc_id = rng.randrange(1 << 40)
        target = int(300 + 1700 * q)
        n_par = 1 + (i % 2)
        paras = []
        budget = max(20, target - 110)
        for _ in range(n_par):
            words = max(2, budget // n_par // 7)
            paras.append(_sentence(rng, vocab, words) + ".")
        url = f"https://small.example/{seed}/{i}/doc{doc_id}.html"
        body = "".join(f"<p>{p}</p>" for p in paras)
        html = (
            f"<html><head><title>src {i % 97}</title></head><body>"
            f"<h1>Doc {doc_id}</h1>{body}</body></html>"
        ).encode()
        urls.append(url)
        htmls.append(html)
        expected[url] = f"Doc {doc_id}\n" + "\n".join(paras)
    table = _pages_table(urls, htmls)
    return Corpus(seed, table, sum(map(len, htmls)), expected_text=expected)


# ---------------------------------------------------------------------------
# structured_pages: heavy-tailed structured HTML with hostile rows

STRUCT_MEDIAN_BYTES = 15_000
STRUCT_MIN_BYTES = 2_000
STRUCT_MAX_BYTES = 250_000
HOSTILE_SHARE = 0.02


def _inline(rng: random.Random, vocab: list) -> str:
    parts = []
    for _ in range(rng.randint(6, 14)):
        w = _sentence(rng, vocab, rng.randint(1, 4))
        r = rng.random()
        if r < 0.12:
            w = f"<b>{w}</b>"
        elif r < 0.22:
            w = f"<i>{w}</i>"
        elif r < 0.30:
            w = f'<a href="/{rng.choice(vocab)}/{rng.randint(1, 999)}">{w}</a>'
        elif r < 0.34:
            w = f"<code>{w}</code>"
        parts.append(w)
    return " ".join(parts) + "."


def _list(rng: random.Random, vocab: list, depth: int = 0) -> str:
    tag = "ol" if rng.random() < 0.3 else "ul"
    items = []
    for _ in range(rng.randint(2, 6)):
        inner = _sentence(rng, vocab, rng.randint(2, 8))
        if depth < 2 and rng.random() < 0.3:
            inner += _list(rng, vocab, depth + 1)
        items.append(f"<li>{inner}</li>")
    return f"<{tag}>{''.join(items)}</{tag}>"


def _table(rng: random.Random, vocab: list) -> str:
    """A table with a header row and seeded row/column spans."""
    cols = rng.randint(2, 6)
    nrows = rng.randint(2, 12)
    out = ["<table>", "<tr>"]
    out += [f"<th>{_sentence(rng, vocab, rng.randint(1, 2))}</th>" for _ in range(cols)]
    out.append("</tr>")
    covered: set = set()
    for r in range(nrows):
        out.append("<tr>")
        c = 0
        while c < cols:
            if (r, c) in covered:
                c += 1
                continue
            rs = 2 if (rng.random() < 0.12 and r + 1 < nrows) else 1
            cs = 2 if (rng.random() < 0.12 and c + 1 < cols and (r, c + 1) not in covered) else 1
            for dr in range(rs):
                for dc in range(cs):
                    covered.add((r + dr, c + dc))
            attrs = (f' rowspan="{rs}"' if rs > 1 else "") + (f' colspan="{cs}"' if cs > 1 else "")
            cell = str(rng.randint(0, 99999)) if rng.random() < 0.4 else _sentence(rng, vocab, rng.randint(1, 3))
            out.append(f"<td{attrs}>{cell}</td>")
            c += cs
        out.append("</tr>")
    out.append("</table>")
    return "".join(out)


def _structured_html(rng: random.Random, vocab: list, i: int, target: int) -> bytes:
    title = _sentence(rng, vocab, 4)
    head = (
        f"<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>{title}</title>"
        "<style>body{margin:0}.nav a{color:#333}table td{padding:2px}</style>"
        f"<script>var cfg={{id:{i},tags:['{rng.choice(vocab)}']}};function f(a){{return a<2}}</script>"
        "</head><body>"
    )
    nav = "<nav class=\"nav\"><ul>" + "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(vocab, 6)
    ) + "</ul></nav>"
    parts = [head, nav, f"<main><h1>{title}</h1><p>{_inline(rng, vocab)}</p>"]
    size = sum(map(len, parts))
    while size < target:
        block = [f"<h2>{_sentence(rng, vocab, rng.randint(2, 5))}</h2>"]
        for _ in range(rng.randint(1, 3)):
            block.append(f"<p>{_inline(rng, vocab)}</p>")
        r = rng.random()
        if r < 0.35:
            block.append(_table(rng, vocab))
        elif r < 0.7:
            block.append(_list(rng, vocab))
        elif r < 0.8:
            block.append(f"<h3>{_sentence(rng, vocab, 3)}</h3><blockquote>{_inline(rng, vocab)}</blockquote>")
        s = "".join(block)
        parts.append(s)
        size += len(s)
    parts.append("</main><footer><p>&copy; example</p><script>f(1)</script></footer></body></html>")
    return "".join(parts).encode()


def _png_bytes(rng: random.Random) -> bytes:
    """A real (tiny) PNG: sniffed as raster, routed to needs_ocr."""
    w, h = rng.randint(2, 8), rng.randint(2, 8)
    raw = b"".join(b"\x00" + bytes(rng.randrange(256) for _ in range(w * 3)) for _ in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def structured_size(q: float) -> int:
    """Log-normal size quantile (median 15 KB, sigma 1), clipped to 2-250 KB."""
    z = statistics.NormalDist().inv_cdf(min(max(q, 1e-9), 1 - 1e-9))
    return int(min(max(STRUCT_MEDIAN_BYTES * math.exp(z), STRUCT_MIN_BYTES), STRUCT_MAX_BYTES))


def structured_pages(seed: int, rows: int) -> Corpus:
    """Heavy-tailed structured pages plus a seeded share of hostile rows."""
    rng = random.Random(f"structured:{seed}")
    vocab = _words(rng, 1500)
    n_hostile = max(len(HOSTILE_EXPECT), round(rows * HOSTILE_SHARE))
    kinds = [list(HOSTILE_EXPECT)[k % len(HOSTILE_EXPECT)] for k in range(n_hostile)]
    slots = set(rng.sample(range(rows), n_hostile))
    sizes = iter(_stratified(rng, rows - n_hostile))
    urls, htmls, hostile = [], [], {}
    for i in range(rows):
        if i in slots:
            kind = kinds.pop()
            if kind == "empty":
                url, html = f"https://web.example/{seed}/{i}/empty.html", b""
            elif kind == "raster":
                url, html = f"https://web.example/{seed}/{i}/image{i}", _png_bytes(rng)
            else:
                url = f"https://web.example/{seed}/{i}/feed.xml"
                html = (
                    f'<?xml version="1.0"?><feed><entry>{_sentence(rng, vocab, 5)}</entry></feed>'
                ).encode()
            hostile[url] = HOSTILE_EXPECT[kind]
        else:
            url = f"https://web.example/{seed}/{i}/page{rng.randrange(1 << 32)}.html"
            html = _structured_html(rng, vocab, i, structured_size(next(sizes)))
        urls.append(url)
        htmls.append(html)
    table = _pages_table(urls, htmls)
    return Corpus(seed, table, sum(map(len, htmls)), hostile=hostile)


def mixed_pages(seed: int, rows: int) -> Corpus:
    """Job-path corpus: small pages with one structured page (and its
    hostile rows) in ten, so an epoch's cost is the job path, not the
    converter."""
    n_struct = max(len(HOSTILE_EXPECT), rows // 10)
    s = structured_pages(seed, n_struct)
    m = small_pages(seed, rows - n_struct)
    # spread the structured rows evenly so every limit-bounded epoch sees both kinds
    st, sm = s.table.to_pylist(), m.table.to_pylist()
    keyed = [((k + 0.5) / len(st), r) for k, r in enumerate(st)] + [(k / len(sm), r) for k, r in enumerate(sm)]
    merged = [r for _, r in sorted(keyed, key=lambda kr: kr[0])]
    table = pa.Table.from_pylist(merged, schema=PAGES_SCHEMA)
    return Corpus(seed, table, s.input_bytes + m.input_bytes, expected_text=m.expected_text, hostile=s.hostile)


def _pages_table(urls: list, htmls: list) -> pa.Table:
    n = len(urls)
    return pa.table(
        {
            "url": urls,
            "warc_ts": pa.array([_EPOCH0_US + i * 1_000_000 for i in range(n)], pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array([None] * n, pa.string()),
            "lang": ["en"] * n,
        },
        schema=PAGES_SCHEMA,
    )


# ---------------------------------------------------------------------------
# near_dup: planted text clusters, a boilerplate mega-cluster, images, vectors

SIMHASH_MAX_HAMMING = 3
DHASH_MAX_HAMMING = 6
EMB_DIM = 64


def md5_long(s: str) -> int:
    """First 15 hex digits of md5 as an int (the engine's portable hash)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def simhash_ref(text: str) -> int:
    """Independent 32-bit SimHash: md5 token hashes, per-bit majority vote."""
    votes = [0] * 32
    for tok in text.strip().lower().split():
        h = md5_long(tok)
        for b in range(32):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(32) if votes[b] > 0)


def dhash_ref(seeds: np.ndarray) -> np.ndarray:
    """64-bit dHash of the seed images as uint64, straight from the pixel
    formula: nearest-neighbour 9x8 grey grid, one bit per rising gradient,
    row-major with the first gradient as the most significant bit."""
    s = seeds.astype(np.int64)[:, None, None]
    w, h = s % 8 + 9, s % 5 + 8
    sx = (np.arange(9, dtype=np.int64)[None, None, :] * w) // 9
    sy = (np.arange(8, dtype=np.int64)[None, :, None] * h) // 8
    gray = (
        (s + 3 * sx + 7 * sy + sx * sy) % 180
        + (2 * s + 5 * sx + sy + 3 * sx * sy) % 180
        + (3 * s + sx + 11 * sy + 2 * sx * sy) % 180
    )
    bits = (gray[:, :, 1:] > gray[:, :, :-1]).reshape(len(seeds), 64)
    weights = (np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64))
    return (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)


def popcount64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    return np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)


def near_pairs_bruteforce(keys: list, max_hamming: int, min_hamming: int = 0) -> set:
    """All (i < j) index pairs whose keys differ in min..max bits."""
    arr = np.array(keys, dtype=np.uint64)
    out = set()
    for i in range(len(arr) - 1):
        d = popcount64(np.bitwise_xor(arr[i + 1:], arr[i]))
        for j in np.nonzero((d <= max_hamming) & (d >= min_hamming))[0]:
            out.add((i, i + 1 + int(j)))
    return out


def _near_seed_pairs(rng: random.Random, want: int) -> list:
    """Seed pairs whose images differ in 1..6 dHash bits, found by banded
    search over a seeded pool (the planted image near-duplicates)."""
    pool = np.array(rng.sample(range(1, 1 << 30), 20_000), dtype=np.int64)
    hashes = dhash_ref(pool)
    buckets: dict = {}
    found: list = []
    seen: set = set()
    for idx, h in enumerate(hashes.tolist()):
        for b in range(8):
            key = (b, (h >> (8 * b)) & 0xFF)
            for j in buckets.get(key, ()):
                d = bin(h ^ int(hashes[j])).count("1")
                if 1 <= d <= DHASH_MAX_HAMMING and (j, idx) not in seen:
                    seen.add((j, idx))
                    found.append((int(pool[j]), int(pool[idx])))
            buckets.setdefault(key, []).append(idx)
        if len(found) >= want:
            break
    return found[:want]


def near_dup(seed: int, rows: int) -> Corpus:
    """Text, image seeds and vectors with planted duplicate structure.

    * exact text/image/vector duplicate pairs: every family must find them;
    * near-duplicate text variants (one or two token edits);
    * a boilerplate mega-cluster (8% of rows share a long preamble);
    * image seed pairs 1..6 dHash bits apart.
    """
    rng = random.Random(f"near_dup:{seed}")
    vocab = _words(rng, 20_000)
    boiler = _sentence(rng, vocab, 120)
    texts: list = []
    planted_exact: list = []
    n_mega = rows * 8 // 100
    while len(texts) < rows:
        r = rng.random()
        base = _sentence(rng, vocab, rng.randint(60, 140))
        if len(texts) < n_mega:
            texts.append(boiler + " " + _sentence(rng, vocab, 6))
        elif r < 0.08 and len(texts) + 2 <= rows:
            planted_exact.append((len(texts), len(texts) + 1))
            texts += [base, base]
        elif r < 0.25 and len(texts) + 3 <= rows:
            texts.append(base)
            for _ in range(2):
                toks = base.split()
                for _ in range(rng.randint(1, 2)):
                    toks[rng.randrange(len(toks))] = rng.choice(vocab)
                texts.append(" ".join(toks))
        else:
            texts.append(base)
    # image seeds: unique by default, exact duplicates on the exact text
    # pairs, and planted near pairs on a seeded share of rows
    seeds = rng.sample(range(1, 1 << 30), rows)
    for a, b in planted_exact:
        seeds[b] = seeds[a]
    exact_members = {i for p in planted_exact for i in p}
    free = [i for i in range(rows) if i not in exact_members]
    rng.shuffle(free)
    for k, (sa, sb) in enumerate(_near_seed_pairs(rng, rows // 40)):
        if 2 * k + 1 >= len(free):
            break
        seeds[free[2 * k]], seeds[free[2 * k + 1]] = sa, sb
    # vectors: gaussian, exact copies on the exact pairs
    nrng = np.random.default_rng(rng.randrange(1 << 32))
    emb = nrng.standard_normal((rows, EMB_DIM))
    for a, b in planted_exact:
        emb[b] = emb[a]
    emb = np.round(emb, 6)
    # shuffle row order; doc ids are the shuffled positions' labels
    order = list(range(rows))
    rng.shuffle(order)
    ids = [1000 + 7 * k for k in range(rows)]
    pos = {old: new for new, old in enumerate(order)}
    table = pa.table(
        {
            "doc_id": ids,
            "text": [texts[o] for o in order],
            "seed": [seeds[o] for o in order],
            "embedding": pa.array([emb[o].tolist() for o in order], pa.list_(pa.float64())),
        },
        schema=NEAR_DUP_SCHEMA,
    )
    exact = {tuple(sorted((ids[pos[a]], ids[pos[b]]))) for a, b in planted_exact}
    corpus = Corpus(seed, table, sum(len(t.encode()) for t in texts))
    corpus.planted = {"exact": exact}
    return corpus


def near_dup_expected(corpus: Corpus) -> dict:
    """Brute-force pair sets of the pigeonhole-complete families."""
    ids = corpus.table.column("doc_id").to_pylist()
    texts = corpus.table.column("text").to_pylist()
    sims = [simhash_ref(t) for t in texts]
    simhash = {(ids[i], ids[j]) for i, j in near_pairs_bruteforce(sims, SIMHASH_MAX_HAMMING)}
    # dhash near-match runs between exact-hash classes (lowest id per hash)
    hashes = dhash_ref(np.array(corpus.table.column("seed").to_pylist(), dtype=np.int64)).tolist()
    rep: dict = {}
    for i, h in sorted(zip(ids, hashes)):
        rep.setdefault(h, i)
    reps = sorted(rep.items(), key=lambda kv: kv[1])
    dh = near_pairs_bruteforce([h for h, _ in reps], DHASH_MAX_HAMMING, min_hamming=1)
    dhash = {tuple(sorted((reps[i][1], reps[j][1]))) for i, j in dh}
    return {"simhash": simhash, "dhash": dhash}


# ---------------------------------------------------------------------------
# materialization


def balanced_split(sizes: list, files: int) -> tuple:
    """(row order, rows per file) giving every file the same bytes: rows
    are assigned largest first to the file with the fewest bytes so far,
    and each file keeps its rows in generation order. Real page tables
    arrive as byte-balanced files; without this the seed would decide
    which task gets the 250 KB pages."""
    heap = [(0, f) for f in range(files)]
    bins: list = [[] for _ in range(files)]
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        total, f = heapq.heappop(heap)
        bins[f].append(i)
        heapq.heappush(heap, (total + sizes[i], f))
    return [i for b in bins for i in sorted(b)], [len(b) for b in bins]


def write_parquet(table: pa.Table, path: str, files: int) -> dict:
    """Write ``table`` as ``files`` contiguous, single-row-group parquet
    files under ``path``; returns the layout record. Page tables (with an
    ``html`` column) are split by :func:`balanced_split`, other tables into
    equal row counts."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    balanced = "html" in table.column_names
    counts = [n * (k + 1) // files - n * k // files for k in range(files)]
    if balanced:
        order, counts = balanced_split([len(h) for h in table.column("html").to_pylist()], files)
        table = table.take(order)
    start = 0
    for k, count in enumerate(counts):
        pq.write_table(
            table.slice(start, count), os.path.join(path, f"part-{k:05d}.parquet"),
            row_group_size=max(1, count), compression="snappy",
        )
        start += count
    return {"files": files, "rows_per_file": counts, "row_groups_per_file": 1, "compression": "snappy",
            "split": "balanced by html bytes" if balanced else "equal rows"}
