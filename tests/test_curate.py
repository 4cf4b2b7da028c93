"""run_curation: extraction warehouse -> shard-packed training corpus."""

from __future__ import annotations

import json
import os
import re

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from docling_rag_spark.plans.curate import run_curation
from docling_rag_spark.plans.job import run_extraction
from docling_rag_spark.sources.pages import (
    PAGES_ARROW_SCHEMA,
    generate_pages,
    write_pages_parquet,
)


def _corpus_hash(dest):
    con = duckdb.connect()
    row = con.sql(
        f"""select count(*),
                   sum(hash(url || '#' || shard_id || '#' || text))
            from read_parquet('{dest}/corpus/*/*.parquet',
                              hive_partitioning=1)""").fetchone()
    con.close()
    return row


_SENTENCE_RE = re.compile(rb"[A-Z][a-z]+(?: [a-z]+){5,}\.")


def _write_dup_pages(path, n_docs, n_exact, n_near):
    """The ``n_docs``-page fixture plus re-posts of its longest generated
    html pages under new urls: ``n_exact`` verbatim copies, then
    ``n_near`` copies with the word order of one sentence reversed."""
    df = generate_pages(n_docs)
    src = sorted((i for i, u in enumerate(df["url"])
                  if u.endswith(".html") and "fixtures.example" not in u),
                 key=lambda i: -len(df["html"][i]))[:n_exact + n_near]
    extra = df.iloc[src].reset_index(drop=True)
    extra["url"] = [f"https://mirror.example/{k}/{u.split('/', 3)[3]}"
                    for k, u in enumerate(extra["url"])]
    for k in range(n_exact, n_exact + n_near):
        html = extra.at[k, "html"]
        m = _SENTENCE_RE.search(html)
        words = m.group(0)[:-1].lower().split()[::-1]
        extra.at[k, "html"] = (html[:m.start()]
                               + b" ".join(words).capitalize() + b"."
                               + html[m.end():])
    pq.write_table(pa.Table.from_pandas(pd.concat([df, extra]),
                                        schema=PAGES_ARROW_SCHEMA,
                                        preserve_index=False), path)
    return list(extra["url"][:n_exact])


def test_curation_end_to_end(spark, spark_jobs, tmp_path):
    """Gates, exact and near dedup, and packing on a fixture with known
    duplicates; every Spark job of the curation is tagged ``curate:``."""
    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    dest = str(tmp_path / "corpus_out")
    n_exact, n_near = 4, 4
    exact_copies = _write_dup_pages(pages, 200, n_exact, n_near)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)

    # default gates first: the synthetic fixture vocabulary has no real
    # English stopwords, so the C4-style rule must fire (that's the gate
    # working, not a bug — the generator text is word salad by design)
    strict = run_curation(spark, out, str(tmp_path / "strict"))
    assert strict["dropped_by_reason"].get("no_stopwords", 0) > 0

    budget = 3000
    report, descs = spark_jobs(lambda: run_curation(
        spark, out, dest, shard_tokens=budget, require_stopwords=False))
    assert all(d and d.startswith("curate:") for d in descs), descs
    assert {"curate:gate", "curate:near_dup", "curate:write",
            "curate:stats"} == set(descs), descs
    # the counts come from one aggregate and the written corpus: 73 when
    # the input, unique and survivor counts each replayed the lineage and
    # the corpus read-back inferred its schema
    assert len(descs) == 53, descs

    con = duckdb.connect()
    n_input = con.sql(
        f"""select count(*) from read_parquet('{out}/extracted/*/*.parquet')
            where status in ('ok', 'degraded')""").fetchone()[0]
    # the injected duplicates, and only they, are removed
    assert report["n_input"] == n_input
    assert report["n_exact_dups_removed"] == n_exact
    assert report["n_near_dups_removed"] == n_near
    assert report["n_corpus_docs"] == (report["n_passed_gates"]
                                       - n_exact - n_near)
    assert report["n_shards"] >= 2, "budget too big to exercise packing"

    df = con.sql(
        f"""select shard_id, url, text, n_tokens, content_hash
            from read_parquet('{dest}/corpus/*/*.parquet',
                              hive_partitioning=1)""").df()
    con.close()

    # dedup invariant: content hashes unique in the shipped corpus, and
    # the lowest url of an exact-duplicate set is the one kept
    assert df["content_hash"].is_unique
    assert not set(exact_copies) & set(df["url"])
    # packing invariant: every shard's token sum stays within budget
    # plus at most one straddling doc (greedy streaming pack semantics)
    sums = df.groupby("shard_id")["n_tokens"].sum()
    maxdoc = df["n_tokens"].max()
    assert (sums <= budget + maxdoc).all()
    # shards are dense 0..n-1 (prefix sum leaves no gaps)
    assert sorted(sums.index) == list(range(report["n_shards"]))

    # no PII leaks into the shipped text
    assert not df["text"].str.contains("@").any() or \
        df["text"].str.contains("\\[email\\]").any()

    # the report file matches the returned dict
    with open(os.path.join(dest, "_curation_report.json")) as f:
        assert json.load(f) == report


def test_curation_deterministic_rerun(spark, tmp_path):
    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 120)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)

    d1, d2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    r1 = run_curation(spark, out, d1, shard_tokens=2500,
                      require_stopwords=False)
    r2 = run_curation(spark, out, d2, shard_tokens=2500,
                      require_stopwords=False)
    assert r1 == r2
    assert _corpus_hash(d1) == _corpus_hash(d2)

    # gates that drop every row leave an empty corpus, not a failed read
    r3 = run_curation(spark, out, str(tmp_path / "c3"), min_words=10**9)
    assert r3["dropped_by_reason"] == {"too_short": r3["n_input"]}
    assert (r3["n_corpus_docs"], r3["n_shards"]) == (0, 0)


def test_near_dup_stage_drops_cluster_non_canonical(spark):
    """Two near-identical texts under different urls collapse to the
    lower (bucket, url) survivor; distinct texts all survive."""
    from docling_rag_spark.plans.curate import _near_dup_survivors

    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "pelicans discuss quarterly shuffle statistics near the old "
            "harbor wall and every partition of the evening sky turns a "
            "slightly different shade of orange before the scheduler "
            "finally drains its queue of clouds for the night shift crew")
    near = base.replace("orange", "crimson")
    rows = [
        ("https://a.example/1", 0, base),
        ("https://b.example/2", 1, near),
        ("https://c.example/3", 2, "completely different content about "
         "bucketed parquet layouts and snapshot retention policies for "
         "iceberg style warehouses with many more unrelated words in it "
         "than any shingle could possibly share with the fox sentence "
         "above because every token here is from another domain entirely"),
    ]
    df = spark.createDataFrame(rows, "url string, bucket int, text string")
    kept = {r["url"] for r in _near_dup_survivors(df).collect()}
    assert kept == {"https://a.example/1", "https://c.example/3"}
