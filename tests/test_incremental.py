"""run_extraction(mode="merge"): incremental MERGE INTO semantics.

The invariant: merging a delta snapshot into a committed warehouse must
produce byte-identical tables to a clean full extraction over the
"latest per url" union of both snapshots — while parsing ONLY the
new/updated pages.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from docling_rag_spark.plans.job import run_extraction
from docling_rag_spark.sources.pages import (
    PAGES_ARROW_SCHEMA,
    generate_pages,
    write_pages_parquet,
)

DAY = dt.timedelta(days=1)


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=PAGES_ARROW_SCHEMA,
                                        preserve_index=False), path)


def _rows(spark, out, table):
    df = spark.read.parquet(os.path.join(out, table))
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in r) for r in df.select(cols).collect())


def _snapshots(base: pd.DataFrame):
    """(snap0, snap1, latest) page sets from one generated base table."""
    n = len(base)
    upd_idx = list(range(0, 6))           # re-crawled with new content
    stale_idx = [6]                       # re-emitted OLDER copy: skip
    same_idx = list(range(7, 10))         # identical re-fetch (same ts): skip
    snap0 = base.copy()

    updated = base.iloc[upd_idx].copy()
    updated["warc_ts"] = updated["warc_ts"] + DAY
    updated["html"] = [f"# Updated {i}\n\nfresh body {i} after recrawl"
                       .encode() for i in upd_idx]
    updated["text"] = [f"fresh body {i}" for i in upd_idx]

    stale = base.iloc[stale_idx].copy()
    stale["warc_ts"] = stale["warc_ts"] - DAY
    stale["html"] = [b"# Stale copy\n\nmust never replace the newer row"]

    same = base.iloc[same_idx].copy()     # same url, same warc_ts

    new = pd.DataFrame({
        "url": [f"https://newhost.example/added/{i}.md" for i in range(5)],
        "warc_ts": [base["warc_ts"].iloc[-1] + DAY * (i + 1)
                    for i in range(5)],
        "html": [f"# Added {i}\n\nbrand new page {i}".encode()
                 for i in range(5)],
        "text": [None] * 5,
        "lang": ["en"] * 5,
    })

    # in-snapshot duplicate: the same new url fetched twice, latest wins
    dup_old = new.iloc[[0]].copy()
    dup_old["warc_ts"] = dup_old["warc_ts"] - dt.timedelta(hours=1)
    dup_old["html"] = [b"# Added 0\n\nsuperseded same-snapshot fetch"]

    snap1 = pd.concat([updated, stale, same, new, dup_old],
                      ignore_index=True)

    latest = pd.concat([base.drop(index=upd_idx), updated, new],
                       ignore_index=True)
    return snap0, snap1, latest, {
        "n_changed": len(upd_idx) + len(new),
        "n_unchanged": len(stale_idx) + len(same_idx),
        "updated_urls": list(updated["url"]),
    }


@pytest.fixture(scope="module")
def merged_case(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("incr")
    base = generate_pages(40)
    snap0, snap1, latest, info = _snapshots(base)

    p0, p1, pl = (str(tmp / f"{n}.parquet") for n in ("s0", "s1", "latest"))
    _write(snap0, p0)
    _write(snap1, p1)
    _write(latest, pl)

    out = str(tmp / "wh")
    run_extraction(spark, p0, out, snapshot_id="snap-0", num_buckets=8,
                   salt_partitions=4)
    rep = run_extraction(spark, p1, out, snapshot_id="snap-1",
                         num_buckets=8, salt_partitions=4, mode="merge")

    ref = str(tmp / "wh_ref")
    run_extraction(spark, pl, ref, snapshot_id="snap-ref", num_buckets=8,
                   salt_partitions=4)
    return out, ref, rep, info


def test_merge_parses_only_changed(merged_case):
    _out, _ref, rep, info = merged_case
    assert rep.doc_count == info["n_changed"]
    assert rep.docs_unchanged == info["n_unchanged"]


def test_merge_equals_full_reextraction(spark, merged_case):
    """Merged warehouse ≡ clean extraction of the latest-per-url union."""
    out, ref, _rep, _info = merged_case
    assert _rows(spark, out, "extracted") == _rows(spark, ref, "extracted")
    assert _rows(spark, out, "chunks") == _rows(spark, ref, "chunks")


def test_merge_replaced_rows_carry_new_content(spark, merged_case):
    out, _ref, _rep, info = merged_case
    ext = spark.read.parquet(os.path.join(out, "extracted"))
    got = {r["url"]: r["extracted_text"] for r in
           ext.filter(ext.url.isin(info["updated_urls"]))
           .select("url", "extracted_text").collect()}
    assert set(got) == set(info["updated_urls"])
    for text in got.values():
        assert "fresh body" in text


def test_merge_resume_after_crash(spark, tmp_path):
    """A merge killed mid-run resumes per bucket and converges to the
    same state as an uninterrupted merge."""
    base = generate_pages(30)
    snap0, snap1, _latest, _info = _snapshots(base)
    p0, p1 = str(tmp_path / "s0.parquet"), str(tmp_path / "s1.parquet")
    _write(snap0, p0)
    _write(snap1, p1)

    outs = []
    for name, fail in (("wh_a", 1), ("wh_b", None)):
        out = str(tmp_path / name)
        run_extraction(spark, p0, out, snapshot_id="snap-0", num_buckets=8,
                       salt_partitions=4)
        if fail:
            with pytest.raises(RuntimeError):
                run_extraction(spark, p1, out, snapshot_id="snap-1",
                               num_buckets=8, buckets_per_batch=3,
                               salt_partitions=4, mode="merge",
                               _fail_after_batches=fail)
            rep = run_extraction(spark, p1, out, snapshot_id="snap-1",
                                 num_buckets=8, buckets_per_batch=3,
                                 salt_partitions=4, mode="merge")
            assert rep.buckets_skipped >= 3
        else:
            run_extraction(spark, p1, out, snapshot_id="snap-1",
                           num_buckets=8, salt_partitions=4, mode="merge")
        outs.append(out)

    assert _rows(spark, outs[0], "extracted") == _rows(spark, outs[1],
                                                       "extracted")
    assert _rows(spark, outs[0], "chunks") == _rows(spark, outs[1], "chunks")


def test_merge_into_empty_warehouse(spark, tmp_path):
    """First snapshot in merge mode behaves like a plain extraction."""
    pages = str(tmp_path / "p.parquet")
    write_pages_parquet(pages, 20)
    out = str(tmp_path / "wh")
    rep = run_extraction(spark, pages, out, num_buckets=8,
                         salt_partitions=4, mode="merge")
    assert rep.docs_unchanged == 0
    assert rep.doc_count == spark.read.parquet(pages).count()
    assert (spark.read.parquet(os.path.join(out, "extracted")).count()
            == rep.doc_count)


def test_merge_rejects_unknown_mode(spark, tmp_path):
    pages = str(tmp_path / "p.parquet")
    write_pages_parquet(pages, 5)
    with pytest.raises(ValueError):
        run_extraction(spark, pages, str(tmp_path / "wh"), mode="append")


def test_unchanged_merge_rerun_skips_parse_and_stage(spark, spark_jobs,
                                                     tmp_path):
    """A merge run over pages that are all unchanged runs one
    change-count aggregate — no pages footer read, no parse, no stage —
    and still commits zero-count lineage rows for its buckets, so a rerun
    skips them."""
    from docling_rag_spark.io import warehouse as wh

    p, out = str(tmp_path / "p.parquet"), str(tmp_path / "wh")
    write_pages_parquet(p, 30)
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2)
    rep, descs = spark_jobs(lambda: run_extraction(
        spark, p, out, snapshot_id="snap-1", mode="merge", num_buckets=4,
        salt_partitions=2))
    assert rep.docs_unchanged == 30 and rep.doc_count == 0
    # the aggregate's three shuffle stages and its result
    assert len(descs) <= 4, descs
    rows = [r for r in wh.read_lineage(out)
            if r["input_snapshot_id"] == "snap-1"]
    assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]
    assert all(r["doc_count"] == r["chunk_count"] == 0 for r in rows)
    again = run_extraction(spark, p, out, snapshot_id="snap-1", mode="merge",
                           num_buckets=4, salt_partitions=2)
    assert again.buckets_skipped == 4

    # a merge whose only new doc has no chunks stages no chunks file
    empty = generate_pages(1, seed=3).iloc[:1].copy()
    empty["url"], empty["html"], empty["text"] = \
        ["https://new.example/empty.md"], [b""], [""]
    _write(empty, p)
    rep = run_extraction(spark, p, out, snapshot_id="snap-2", mode="merge",
                         num_buckets=4, salt_partitions=2)
    assert (rep.doc_count, rep.chunk_count) == (1, 0)
    assert len(_rows(spark, out, "extracted")) == 31
