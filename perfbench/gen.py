"""Seeded benchmark inputs, built on the ``pages_gen`` writers.

Rows come in blocks of ``BLOCK``. A block is a pure function of
``(workload, seed, block index)``, so the same seed gives the same bytes
whatever the chunking or the number of generator processes.

Natural pages are ``pages_gen.make_page`` rows, the default mix, kept as
drawn except that a page over ``MAX_PAGE_BYTES`` is redrawn (same seed,
index shifted by ``REDRAW_STRIDE``): large documents are out of this
benchmark's scope.

- ``extract_crawl``: natural pages only.
- ``corpus_verified``: 80% natural pages. Per block, ``REVISIT_COPIES``
  rows (10%) are crawl revisits: the same url as an earlier well-formed
  HTML page of the block, with one to three body words changed. The copies
  of a block form clusters of 2 to 5 pages (source included). Another
  ``TEMPLATE_ROWS`` rows (10%) share one seed-derived boilerplate template
  and differ only in a short unique body, which puts them in one hot LSH
  (band, bucket).
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import random
import re
import shutil
import subprocess
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from universal_text_extractor_spark.sources import pages_gen

GEN_VERSION = 5
MAX_PAGE_BYTES = 64_000
REDRAW_STRIDE = 10**8
BLOCK = 40
REVISIT_COPIES = 4
TEMPLATE_ROWS = 4
TEMPLATE_HOST = "hot-template.example.org"
KEEP_CACHED = 24

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BODY_WORD = re.compile(r"\b[a-z]{4,}\b")


def _rng(*parts) -> random.Random:
    return random.Random(":".join(str(p) for p in ("perfbench",) + parts))


def _compositions(total: int) -> list[list[int]]:
    """Every ordered split of ``total`` copies into clusters of 1-4 copies."""
    if total == 0:
        return [[]]
    return [
        [first] + rest
        for first in range(1, min(4, total) + 1)
        for rest in _compositions(total - first)
    ]


def edit_words(html: bytes, rng: random.Random) -> bytes:
    """A light revisit edit: one to three words inside ``<main>`` replaced
    by other vocabulary words (the shingle sets stay >0.9 Jaccard)."""
    doc = html.decode("utf-8")
    lo = doc.index("<main>")
    hi = doc.index("</main>")
    spots = [m for m in _BODY_WORD.finditer(doc, lo, hi) if m.group() in pages_gen._WORDS]
    chosen = sorted(rng.sample(spots, min(len(spots), rng.randint(1, 3))), key=lambda m: m.start())
    out, pos = [], 0
    for m in chosen:
        out.append(doc[pos : m.start()])
        out.append(rng.choice([w for w in pages_gen._WORDS if w != m.group()]))
        pos = m.end()
    out.append(doc[pos:])
    return "".join(out).encode("utf-8")


@functools.lru_cache(maxsize=4)
def _template(seed: int) -> tuple[str, str]:
    """The hot boilerplate: (head+nav, ~250 words of shared paragraphs)."""
    rng = _rng("template", seed)
    head = (
        "<!DOCTYPE html>\n<html>\n<head>\n<title>"
        + pages_gen._sentence(rng, 5)[:-1]
        + "</title>\n</head>\n<body>\n<nav><ul>"
        + "".join(f'<li><a href="/{w.lower()}">{w}</a></li>' for w in pages_gen._BOILER_LINKS)
        + "</ul></nav>\n"
    )
    shared = "".join(
        f"<p>{' '.join(pages_gen._sentence(rng, 10) for _ in range(3))}</p>\n" for _ in range(8)
    )
    return head, shared


def _capped_page(seed: int, i: int) -> dict:
    page = pages_gen.make_page(i, seed)
    k = 0
    while len(page["html"]) > MAX_PAGE_BYTES:
        k += 1
        page = pages_gen.make_page(i + k * REDRAW_STRIDE, seed)
    return page


def natural_pages(seed: int, first: int, n: int) -> list[dict]:
    return [_capped_page(seed, i) for i in range(first, first + n)]


def template_page(seed: int, i: int) -> dict:
    head, shared = _template(seed)
    rng = _rng("template-row", seed, i)
    body = " ".join(pages_gen._sentence(rng, rng.randint(5, 8)) for _ in range(2))
    html = f"{head}<main>\n<p>{body}</p>\n{shared}</main>\n</body>\n</html>\n"
    return {
        "url": f"https://{TEMPLATE_HOST}/story/{i:09d}.html",
        "warc_ts": pages_gen._EPOCH + dt.timedelta(seconds=i),
        "html": html.encode("utf-8"),
        "text": "",
        "lang": "en",
    }


def _revisit(page: dict, rng: random.Random, visit: int) -> dict:
    return {
        **page,
        "html": edit_words(page["html"], rng),
        "warc_ts": page["warc_ts"] + dt.timedelta(days=visit),
    }


def block_rows(workload: str, seed: int, b: int) -> list[dict]:
    """Rows ``b*BLOCK .. (b+1)*BLOCK-1`` of ``workload``'s input."""
    first = b * BLOCK
    if workload == "extract_crawl":
        return natural_pages(seed, first, BLOCK)
    if workload != "corpus_verified":
        raise ValueError(f"unknown workload {workload!r}")
    natural = BLOCK - REVISIT_COPIES - TEMPLATE_ROWS
    rows = natural_pages(seed, first, natural)
    rng = _rng("revisits", seed, b)
    sources = [k for k in range(natural) if "/html_ok/" in rows[k]["url"]]
    parts = rng.choice(_compositions(REVISIT_COPIES))
    if len(sources) < len(parts):  # a block with too few HTML pages
        parts = [REVISIT_COPIES] if sources else []
    copies = []
    for src, n_copies in zip(rng.sample(sources, len(parts)), parts):
        copies += [_revisit(rows[src], rng, v + 1) for v in range(n_copies)]
    if len(copies) < REVISIT_COPIES:  # no HTML page at all: plain rows
        copies += natural_pages(seed, first + natural, REVISIT_COPIES - len(copies))
    templated = [template_page(seed, first + k) for k in range(BLOCK - TEMPLATE_ROWS, BLOCK)]
    return rows + copies + templated


def write_chunk(workload: str, seed: int, b0: int, b1: int, path: str) -> tuple[int, int]:
    """Blocks ``b0 .. b1-1`` to one parquet file; returns (rows, payload bytes)."""
    rows = [r for b in range(b0, b1) for r in block_rows(workload, seed, b)]
    pq.write_table(pa.Table.from_pylist(rows, schema=SCHEMA), path)
    return len(rows), sum(len(r["html"]) for r in rows)


def ensure_pages(cache_dir: str, workload: str, seed: int, rows: int, workers: int = 4) -> dict:
    """Generate (or reuse) the input parquet; returns its path and sizes."""
    n_blocks = -(-rows // BLOCK)
    name = f"{workload}-s{seed}-b{n_blocks}-v{GEN_VERSION}"
    path = os.path.join(cache_dir, name)
    meta_file = os.path.join(path, "_meta.json")
    if os.path.exists(meta_file):
        os.utime(path)
        with open(meta_file) as f:
            return {**json.load(f), "path": path}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = os.path.join(cache_dir, f".tmp-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    bounds = [n_blocks * c // workers for c in range(workers + 1)]
    try:
        # plain child processes, one chunk each: a multiprocessing pool
        # would put its semaphores in /dev/shm, outside the checkout
        procs = [
            subprocess.Popen(
                [sys.executable, "-m", "perfbench.gen", workload, str(seed), str(bounds[c]),
                 str(bounds[c + 1]), os.path.join(tmp, f"part-{c:05d}.parquet")],
                stdout=subprocess.PIPE, text=True, cwd=_ROOT,
            )
            for c in range(workers) if bounds[c] < bounds[c + 1]
        ]
        outs = [p.communicate()[0] for p in procs]
        if any(p.returncode for p in procs):
            raise RuntimeError(f"input generation failed: {[p.returncode for p in procs]}")
        sizes = [json.loads(o) for o in outs]
        meta = {
            "rows": sum(n for n, _ in sizes),
            "payload_bytes": sum(nb for _, nb in sizes),
        }
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _prune(cache_dir)
    return {**meta, "path": path}


def _prune(cache_dir: str) -> None:
    entries = sorted(
        (e for e in os.scandir(cache_dir) if e.is_dir() and not e.name.startswith(".")),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in entries[KEEP_CACHED:]:
        shutil.rmtree(e.path, ignore_errors=True)


if __name__ == "__main__":  # one generator child: workload seed b0 b1 path
    w, sd, lo, hi, out = sys.argv[1:]
    print(json.dumps(write_chunk(w, int(sd), int(lo), int(hi), out)))
