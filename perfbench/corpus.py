"""Seeded benchmark corpus: ``sources.pages`` pages plus injected duplicates.

Every row is a pure function of the seed. The base pages come from
``generate_pages(seed=<seed>, heaviness=4)`` (~8 KB HTML, the repo's
Common-Crawl page-weight setting). On top of them the generator re-posts a
share of the text pages (HTML and markdown) under other hosts:

* exact duplicates: same payload, new url;
* near duplicates: same payload with one sentence rewritten, new url.

The duplicates are what give the curation workload's exact dedup and
MinHash-LSH stages real work; without them dedup sees almost nothing.

``N_DOCS`` is set by the benchmark's time budget, not by where the
program spends its time. At 4 CPUs an extraction job over 300 or 600
pages takes ~3.2 s, over 2000 pages ~4.4 s and over 3000 ~5.2 s, and a
curation takes ~30 s over 300 or 600 pages and ~50 s over 3000: most of
either is per-job and per-task cost, not per-page work. At 600 pages the
replayed parse/chunk body is ~0.6 s single-process against ~6.7 task-s in
the UDF stage; the traced run reports that split (``replay.total_s``,
``udf_stage.unattributed_s``). A larger corpus would make the parse layers
a larger share of the job, but a run would then take longer than the
~50 s a run can have: a comparison of two commits runs the benchmark ~50
times (ten seeds per workload on each side, plus traced runs) and should
end within the hour.
"""

from __future__ import annotations

import hashlib
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 600
HEAVINESS = 4
EXACT_DUP_SHARE = 0.06
NEAR_DUP_SHARE = 0.06

# a generated sentence: capitalised word run ending in a period
_SENTENCE_RE = re.compile(rb"[A-Z][a-z]+(?: [a-z]+){5,}\.")


def _rewrite_sentence(payload: bytes, rng: random.Random) -> bytes | None:
    """Reverse the word order of one sentence; None if there is none."""
    found = list(_SENTENCE_RE.finditer(payload))
    if not found:
        return None
    m = rng.choice(found)
    words = m.group(0)[:-1].lower().split()
    words.reverse()
    new = b" ".join(words).capitalize() + b"."
    if new == m.group(0):
        return None
    return payload[:m.start()] + new + payload[m.end():]


def generate(seed: int):
    """Return ``(table, counts)``: the pages table (``PAGES_ARROW_SCHEMA``)
    of ``N_DOCS`` rows and the number of injected exact/near duplicates."""
    from docling_rag_spark.sources.pages import (
        PAGES_ARROW_SCHEMA,
        generate_pages,
    )

    want = {"exact": int(N_DOCS * EXACT_DUP_SHARE),
            "near": int(N_DOCS * NEAR_DUP_SHARE)}
    base = generate_pages(N_DOCS - sum(want.values()), seed=seed,
                          heaviness=HEAVINESS)
    rng = random.Random(seed * 7919 + 17)
    # re-post only generated (non-fixture) text pages
    candidates = [i for i, (url, html) in enumerate(zip(base["url"],
                                                          base["html"]))
                  if html and url.rsplit(".", 1)[-1] in ("html", "md")
                  and "fixtures.example" not in url]
    rows = {c: list(base[c]) for c in base.columns}
    made = {"exact": 0, "near": 0}
    for k, i in enumerate(rng.sample(candidates, len(candidates))):
        kind = "exact" if made["exact"] < want["exact"] else "near"
        if made[kind] >= want[kind]:
            break
        html = base["html"][i]
        if kind == "near":
            html = _rewrite_sentence(html, rng)
            if html is None:
                continue
        path = base["url"][i].split("/", 3)[3]
        rows["url"].append(f"https://mirror{k % 7}.example/{kind}{k}/{path}")
        for c in ("warc_ts", "text", "lang"):
            rows[c].append(base[c][i])
        rows["html"].append(html)
        made[kind] += 1
    return pa.Table.from_pydict(rows, schema=PAGES_ARROW_SCHEMA), made


def fingerprint(table: pa.Table) -> dict:
    """Rows, payload bytes and an md5 over every row's content."""
    h = hashlib.md5()
    nbytes = 0
    for url, html, text, lang in zip(*(table[c].to_pylist() for c in
                                       ("url", "html", "text", "lang"))):
        html = html or b""
        text = (text or "").encode()
        nbytes += len(html) + len(text)
        h.update(url.encode() + b"\0" + html + b"\0" + text + b"\0"
                 + (lang or "").encode() + b"\1")
    return {"rows": table.num_rows, "bytes": nbytes, "md5": h.hexdigest()}


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=2000, compression="zstd")
