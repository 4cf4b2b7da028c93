"""Per-corpus fixtures, built once and cached under the benchmark's work dir.

For one (corpus seed, package source) the cache holds:

* ``pages.parquet`` and its fingerprint (rows, bytes, md5, injected
  duplicates) in ``corpus.json``;
* ``expected_extract.json``: the Spark-free replay's per-url digests;
* ``wh/``: a warehouse extracted from the pages, with ``embeddings/`` and
  the ANN index ``ann/`` (``index.json`` marks it done);
* ``curate.json``: the first curation's report and corpus digest, which
  every later curation of this warehouse must reproduce.

Timed runs never write into the warehouse: ``search`` and ``curate`` copy it
into their run directory first. The key includes an md5 of the
package sources, so a code change never reuses a stale warehouse.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import corpus
import replay

# url-hash buckets of the benchmark warehouse: 16 keep ~40 docs a bucket
# file at 600 docs (the default 64 would leave ~10, and the job would time
# per-file overhead rather than per-document work)
BUCKETS = 16
# Each fixture costs about a minute to build (the ANN index alone ~35-50 s
# at 4 cores, mostly fixed), too much to pay on every run of a benchmark
# that a comparison of two commits runs ~50 times within the hour. So the corpus is made from
# seed % CORPUS_VARIANTS: at most this many fixtures per checkout, while the
# search queries still follow the full seed.
CORPUS_VARIANTS = 2
KEEP_FIXTURES = 2 * CORPUS_VARIANTS


def _source_md5(pkg_dir: str) -> str:
    h = hashlib.md5()
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, pkg_dir).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("corpus.py", "fixtures.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


class Fixture:
    def __init__(self, root: str, pkg_dir: str, seed: int):
        self.seed = seed % CORPUS_VARIANTS
        key = hashlib.md5(f"{_source_md5(pkg_dir)}|{self.seed}".encode()
                          ).hexdigest()[:16]
        self.dir = os.path.join(root, key)
        os.makedirs(self.dir, exist_ok=True)
        os.utime(self.dir)
        self.pages = os.path.join(self.dir, "pages.parquet")
        self.wh = os.path.join(self.dir, "wh")
        _prune(root, keep=KEEP_FIXTURES)

    def build(self, session, cores: int) -> None:
        """Build whatever of this corpus's fixture is missing.
        ``session()`` returns a Spark session, started only on a miss."""
        from docling_rag_spark.plans.job import run_extraction

        meta = os.path.join(self.dir, "corpus.json")
        if not os.path.exists(meta):
            table, dups = corpus.generate(self.seed)
            corpus.write(table, self.pages + ".tmp")
            os.replace(self.pages + ".tmp", self.pages)
            _write_json(meta, {**corpus.fingerprint(table),
                               "injected": dups})
        expected = os.path.join(self.dir, "expected_extract.json")
        if not os.path.exists(expected):
            _write_json(expected, replay.run(self.pages))
        if not os.path.isdir(self.wh):
            tmp = f"{self.wh}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            run_extraction(session(), self.pages, tmp, num_buckets=BUCKETS,
                           salt_partitions=cores)
            os.rename(tmp, self.wh)
        marker = os.path.join(self.wh, "index.json")
        if not os.path.exists(marker):
            _write_json(marker, _build_index(session(), self.wh))

    def fingerprint(self) -> dict:
        """The corpus fingerprint: rows, bytes, md5, injected duplicates."""
        return _read_json(os.path.join(self.dir, "corpus.json"))

    def expected_extract(self) -> dict:
        return _read_json(os.path.join(self.dir, "expected_extract.json"))

    def index_meta(self) -> dict:
        """Timings of the embeddings and ANN index build."""
        return _read_json(os.path.join(self.wh, "index.json"))

    def curate_reference(self):
        """The curation report + corpus digest of the first run, if any."""
        path = os.path.join(self.dir, "curate.json")
        return _read_json(path) if os.path.exists(path) else None

    def save_curate_reference(self, ref: dict) -> None:
        _write_json(os.path.join(self.dir, "curate.json"), ref)


def _build_index(spark, wh: str) -> dict:
    """extract -> ``embed_chunks`` -> ``build_ann_index``, as
    scripts/run_embed.py --ann-index does."""
    from pyspark.sql import functions as F

    from docling_rag_spark.operators.embed import embed_chunks
    from docling_rag_spark.plans.ann_index import build_ann_index
    from docling_rag_spark.plans.job import bucket_of

    emb_dir = os.path.join(wh, "embeddings")
    t0 = time.perf_counter()
    (embed_chunks(spark.read.parquet(os.path.join(wh, "chunks")))
     .withColumn("bucket", bucket_of(F.col("url"), BUCKETS))
     .write.partitionBy("bucket").mode("overwrite").parquet(emb_dir))
    t1 = time.perf_counter()
    build_ann_index(spark, spark.read.parquet(emb_dir),
                    os.path.join(wh, "ann"), id_cols=("url", "chunk_id"))
    return {"embed_s": t1 - t0, "ann_build_s": time.perf_counter() - t1}


def build_all(root: str, pkg_dir: str, session, cores: int) -> None:
    """Build every corpus variant's fixture that is missing. The first run
    in a checkout pays for all of them (a few minutes), so that no later
    run, whatever its workload or seed, builds anything."""
    for variant in range(CORPUS_VARIANTS):
        Fixture(root, pkg_dir, variant).build(session, cores)


def _prune(root: str, keep: int) -> None:
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)
