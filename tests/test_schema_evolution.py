"""Pinned table schemas: Iceberg-style add-column evolution.

Copy-on-write at bucket granularity means an incremental MERGE run with a
newer code version rewrites only the buckets that received changed urls —
parquet files of two schema eras coexist in one table. Without a pinned
schema, footer inference silently drops whichever columns the sampled
footer lacks, and the merge union fails outright on the first upgraded
crawl. These tests pin the contract:

  * an upgraded merge over an old-era warehouse succeeds; rows written
    before the column existed read as null (Iceberg add-column);
  * whole-table reads resolve the schema from metadata in O(1) — every
    committed column present regardless of file era;
  * a column name reused with a different type is rejected at commit
    time (SchemaEvolutionError), never discovered by a reader;
  * a column the new writer stops emitting is retained (dropping is an
    explicit DDL-like act, not a side effect of one writer's version).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.plans.job import run_extraction
from docling_rag_spark.sources.pages import PAGES_ARROW_SCHEMA, generate_pages

N_BUCKETS = 8


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=PAGES_ARROW_SCHEMA,
                                        preserve_index=False), path)


def _strip_column(out: str, table: str, col: str) -> int:
    """Rewrite every data file of ``table`` without ``col`` and erase it
    from the pinned schema — faithfully simulating a warehouse written by
    a code version that predates the column."""
    n = 0
    for f in glob.glob(os.path.join(out, table, "bucket=*", "*.parquet")):
        t = pq.read_table(f)
        if col in t.column_names:
            # int96 timestamps: match Spark's own encoding so the rewritten
            # file is indistinguishable from a genuinely old-era one
            pq.write_table(t.drop_columns([col]), f,
                           use_deprecated_int96_timestamps=True)
            # Hadoop's local FS keeps .crc sidecars; the in-place rewrite
            # invalidates them (real old-era files would have matching ones)
            crc = os.path.join(os.path.dirname(f),
                               "." + os.path.basename(f) + ".crc")
            if os.path.exists(crc):
                os.unlink(crc)
            n += 1
    p = wh.schema_path(out, table)
    with open(p) as fh:
        js = json.load(fh)
    js["fields"] = [f for f in js["fields"] if f["name"] != col]
    with open(p, "w") as fh:
        json.dump(js, fh)
    return n


@pytest.fixture(scope="module")
def upgraded(spark, tmp_path_factory):
    """Old-era warehouse (no ``encoding`` column anywhere) merged with a
    delta produced by current code (which writes it)."""
    tmp = tmp_path_factory.mktemp("schevo")
    base = generate_pages(24, seed=87)
    p0, p1 = str(tmp / "p0.parquet"), str(tmp / "p1.parquet")
    _write(base, p0)

    # recrawl 5 plain generated pages (markdown body under an .html url is
    # fine — the fixture rows with format-specific payloads stay untouched)
    delta = base[base["url"].str.contains("/page/")].iloc[:5].copy()
    delta["warc_ts"] = delta["warc_ts"] + dt.timedelta(days=1)
    delta["html"] = [("<html><head><title>Recrawl %d</title></head>"
                      "<body><p>fresh body %d after recrawl</p></body></html>"
                      % (i, i)).encode() for i in range(5)]
    delta["text"] = [None] * 5
    _write(delta, p1)

    out = str(tmp / "wh")
    run_extraction(spark, p0, out, snapshot_id="v-old", num_buckets=N_BUCKETS,
                   salt_partitions=4)
    stripped = _strip_column(out, "extracted", "encoding")
    assert stripped > 0, "fixture must actually remove the column"
    run_extraction(spark, p1, out, snapshot_id="v-new", num_buckets=N_BUCKETS,
                   salt_partitions=4, mode="merge")
    return out, base, list(delta["url"])


def test_upgrade_merge_adds_column_as_null(spark, upgraded):
    out, base, changed_urls = upgraded
    df = wh.read_table(spark, out, "extracted")
    assert "encoding" in df.columns
    rows = {r["url"]: r["encoding"]
            for r in df.select("url", "encoding").collect()}
    assert len(rows) == len(set(base["url"]))
    # re-extracted urls carry the new column; pre-upgrade rows are null —
    # including carried-over rows INSIDE rewritten buckets (the mixed-era
    # union) and whole untouched buckets (the mixed-era table scan)
    for u in changed_urls:
        assert rows[u] is not None, f"re-extracted row lost encoding: {u}"
    old = [u for u in rows if u not in set(changed_urls)]
    assert old and all(rows[u] is None for u in old)


def test_pinned_schema_covers_every_file_era(upgraded):
    out, _base, _changed = upgraded
    pinned = wh.pinned_table_schema(out, "extracted")
    names = [f.name for f in pinned.fields]
    assert "encoding" in names and "url" in names and "bucket" in names
    # every data-file column is describable by the pinned schema
    for f in glob.glob(os.path.join(out, "extracted", "bucket=*",
                                    "*.parquet")):
        assert set(pq.read_schema(f).names) <= set(names)


def test_type_conflict_rejected(tmp_path):
    from pyspark.sql import types as T

    out = str(tmp_path)
    v1 = T.StructType([T.StructField("url", T.StringType()),
                       T.StructField("score", T.DoubleType())])
    wh.pin_table_schema(out, "t", v1)
    v2 = T.StructType([T.StructField("url", T.StringType()),
                       T.StructField("score", T.StringType())])
    with pytest.raises(wh.SchemaEvolutionError, match="score"):
        wh.pin_table_schema(out, "t", v2)
    # the pinned schema is unchanged after the rejected commit
    assert wh.pinned_table_schema(out, "t").jsonValue() == v1.jsonValue()


def test_retired_column_is_retained(tmp_path):
    from pyspark.sql import types as T

    out = str(tmp_path)
    v1 = T.StructType([T.StructField("url", T.StringType()),
                       T.StructField("legacy", T.StringType())])
    wh.pin_table_schema(out, "t", v1)
    v2 = T.StructType([T.StructField("url", T.StringType()),
                       T.StructField("fresh", T.IntegerType())])
    wh.pin_table_schema(out, "t", v2)
    names = [f.name for f in wh.pinned_table_schema(out, "t").fields]
    # stable order: pinned fields first, new fields appended
    assert names == ["url", "legacy", "fresh"]


def test_delete_rewrite_keeps_added_column(spark, upgraded):
    """A bucket-local delete rewrite over old-era buckets must carry the
    added column (as null) through the rewrite, not strip it again.
    Runs LAST against the module fixture: it mutates the warehouse."""
    from docling_rag_spark.plans.job import delete_urls

    out, base, changed_urls = upgraded
    victim = next(u for u in base["url"] if "/page/" in u
                  and u not in set(changed_urls))
    delete_urls(spark, out, [victim], num_buckets=N_BUCKETS)
    df = wh.read_table(spark, out, "extracted")
    assert df.filter(df.url == victim).count() == 0
    assert "encoding" in df.columns
    # the rewritten bucket's files now physically carry the column
    from docling_rag_spark.plans.job import bucket_of  # noqa: F401
    import pyspark.sql.functions as F
    b = df.sparkSession.createDataFrame([(victim,)], "url string") \
        .select(F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
                .alias("b")).collect()[0]["b"]
    files = glob.glob(os.path.join(out, "extracted", f"bucket={b}",
                                   "*.parquet"))
    assert files and all("encoding" in pq.read_schema(f).names
                         for f in files)


def test_drop_column_metadata_only(spark, tmp_path):
    """Iceberg DROP COLUMN: the pinned schema stops projecting the column
    instantly, data files keep their bytes, and re-adding the name is
    rejected (name-based mapping would resurrect pre-drop values)."""
    from pyspark.sql import types as T

    from docling_rag_spark.plans.registry import upsert_registry_table

    out = str(tmp_path / "wh")
    updates = spark.createDataFrame(
        [("https://a.example/x", "Title X", ["alpha"]),
         ("https://a.example/y", "Title Y", ["beta"])],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("title", T.StringType()),
                      T.StructField("tags",
                                    T.ArrayType(T.StringType()))]))
    upsert_registry_table(spark, out, updates, num_buckets=4)
    assert "tags" in wh.read_table(spark, out, "registry").columns

    wh.drop_table_column(out, "registry", "tags")
    df = wh.read_table(spark, out, "registry")
    assert "tags" not in df.columns
    assert df.count() == 2
    # data files physically keep the column (lazy deletion)
    f = glob.glob(os.path.join(out, "registry", "bucket=*", "*.parquet"))[0]
    assert "tags" in pq.read_schema(f).names
    # a writer that no longer emits the column keeps working
    upd2 = spark.createDataFrame(
        [("https://a.example/x", "Title X2")],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("title", T.StringType())]))
    upsert_registry_table(spark, out, upd2, num_buckets=4)
    assert "tags" not in wh.read_table(spark, out, "registry").columns
    # resurrecting the name is rejected at commit time
    with pytest.raises(wh.SchemaEvolutionError, match="resurrect"):
        upsert_registry_table(spark, out, updates, num_buckets=4)


def test_drop_column_guards(tmp_path):
    from pyspark.sql import types as T

    out = str(tmp_path)
    with pytest.raises(wh.SchemaEvolutionError, match="no pinned schema"):
        wh.drop_table_column(out, "t", "x")
    wh.pin_table_schema(out, "t", T.StructType(
        [T.StructField("url", T.StringType()),
         T.StructField("bucket", T.IntegerType()),
         T.StructField("x", T.StringType())]))
    with pytest.raises(wh.SchemaEvolutionError, match="identity/partition"):
        wh.drop_table_column(out, "t", "url")
    with pytest.raises(wh.SchemaEvolutionError, match="no column"):
        wh.drop_table_column(out, "t", "nope")
    wh.drop_table_column(out, "t", "x")
    assert wh.dropped_columns(out, "t") == ["x"]
    assert [f.name for f in wh.pinned_table_schema(out, "t").fields] == [
        "url", "bucket"]


def test_unpinned_warehouse_falls_back(spark, tmp_path):
    """A warehouse written before schema pinning existed (no _schema dir)
    reads via footer inference, exactly as before."""
    base = generate_pages(8, seed=88)
    p = str(tmp_path / "p.parquet")
    _write(base, p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2)
    import shutil
    pinned_count = wh.read_table(spark, out, "extracted").count()
    shutil.rmtree(os.path.join(out, "_schema"))
    df = wh.read_table(spark, out, "extracted")
    assert df.count() == pinned_count
    assert "extracted_text" in df.columns


def _non_nullable(dtype, path: str = "") -> list[str]:
    """Paths of every non-nullable field (or array element) in ``dtype``."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        out = []
        for f in dtype.fields:
            p = f"{path}.{f.name}" if path else f.name
            out += ([] if f.nullable else [p]) + _non_nullable(f.dataType, p)
        return out
    if isinstance(dtype, T.ArrayType):
        return (([] if dtype.containsNull else [f"{path}[]"])
                + _non_nullable(dtype.elementType, f"{path}[]"))
    return []


def test_pinned_schemas_are_all_nullable(spark, tmp_path):
    """The extraction job writes its tables from rows it never read back
    from parquet, so nothing widens them on the way: the pinned chunks and
    extracted schemas must still be nullable at every level (nested
    ``span`` included). A rewrite that reads the tables back, as
    ``delete_urls`` does, would otherwise pin a different ``span`` type
    and fail with SchemaEvolutionError."""
    from docling_rag_spark.plans.job import delete_urls

    pages, out = str(tmp_path / "pages.parquet"), str(tmp_path / "wh")
    _write(generate_pages(24), pages)
    run_extraction(spark, pages, out, num_buckets=N_BUCKETS,
                   salt_partitions=4)
    for table in ("chunks", "extracted"):
        pinned = wh.pinned_table_schema(out, table)
        assert pinned is not None and _non_nullable(pinned) == [], table
    assert "span" in wh.pinned_table_schema(out, "chunks").names

    victim = (wh.read_table(spark, out, "extracted")
              .select("url").first()["url"])
    report = delete_urls(spark, out, [victim])
    assert report["rows_deleted"]["extracted"] == 1
