"""Deterministic bucket -> shuffle-partition routing (no sampling job).

The extraction job wants whole url-hash buckets in its shuffle partitions
before the parse UDF, so the staged ``partitionBy("bucket")`` write emits one
file per bucket (plans/job.py). ``repartitionByRange`` delivers that layout
but pays a SAMPLING JOB — an extra scan of the input per batch whose cost is
fixed per run and therefore pure Amdahl tail in the N-vs-4N scaling ratio
(measured via Spark event logs: 1.1-2.0 s/run, BASELINE.md round 4). Plain
``repartition(n, col("bucket"))`` has no sampling pass but hash-scatters the
~n distinct bucket ids: ~1/e of partitions empty, others stacking 3-4
buckets — stragglers in the most expensive stage.

This module gets both properties at once: Spark routes a row to partition
``pmod(murmur3(key), n)``, and murmur3 on an int32 is a fixed public
function — so for every target partition ``p`` we can search a small int
``x_p`` (a murmur3 *preimage*) with ``pmod(murmur3(x_p), n) == p``, and
route bucket ``b`` through the literal lookup ``x[index(b) mod n]``. The
search is driver-side, O(n log n) expected hash evaluations (~1500 for
n=256, sub-ms), and the routing column is a JVM ``element_at`` on an array
literal — zero extra jobs. Each bucket lands whole in one partition; with
``n`` partitions for a batch of ``k`` buckets, round-robin puts at most
``ceil(k/n)`` buckets on any partition (exactly one when ``n == k``).

Parity with Spark is pinned by tests/test_partitioning.py: the Python
``murmur3_int32`` below must equal ``F.hash(int32)`` (Spark's
``Murmur3Hash`` with seed 42, the same expression ``HashPartitioning``
evaluates), otherwise routing would silently degrade to arbitrary scatter —
still correct output (the staged write re-groups by the bucket COLUMN), but
back to straggler packing.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF


def murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's ``Murmur3_x86_32.hashInt`` (the ``F.hash`` of one int32
    column, and the hash ``HashPartitioning`` shuffles by). Returns a
    SIGNED int32, like the JVM."""
    k1 = ((x & 0xFFFFFFFF) * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = _rotl32(k1, 15)
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 = (seed & 0xFFFFFFFF) ^ k1
    h1 = _rotl32(h1, 13)
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # fmix: length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


@lru_cache(maxsize=64)
def partition_preimages(n: int) -> tuple[int, ...]:
    """``x[p]`` (p in 0..n-1) with ``pmod(murmur3(x[p]), n) == p``.

    Searched from 0 upward, so results are small non-negative int32s and
    fully deterministic. Python's ``%`` on the signed hash equals Spark's
    ``Pmod`` (non-negative result) for positive n."""
    out: list[int | None] = [None] * n
    found, x = 0, 0
    while found < n:
        p = murmur3_int32(x) % n
        if out[p] is None:
            out[p] = x
            found += 1
        x += 1
    return tuple(out)  # type: ignore[arg-type]


def bucket_route(bucket_col: Column, batch: list[int],
                 num_buckets: int, partitions: int | None = None) -> Column:
    """Routing column: ``repartition(P, bucket_route(..., partitions=P))``
    puts each bucket of ``batch`` whole in one shuffle partition, bucket
    ``batch[i]`` in partition ``i mod P`` — at most ``ceil(len(batch)/P)``
    buckets per partition. ``partitions`` defaults to ``len(batch)``:
    each bucket alone in its own partition.

    ``batch`` lists the active bucket ids (subset of 0..num_buckets-1);
    rows are assumed already filtered to those buckets. Inactive slots in
    the lookup array are routed to partition 0 (unused)."""
    n = partitions or len(batch)
    pre = partition_preimages(n)
    lookup = [pre[0]] * num_buckets
    for i, b in enumerate(batch):
        lookup[b] = pre[i % n]
    return F.element_at(F.lit(lookup), bucket_col + F.lit(1))


def route_repartition(df, buckets, bucket_col: str = "bucket"):
    """``df`` repartitioned so each bucket of ``buckets`` occupies exactly
    one shuffle partition — the shared shape for every bucket-aligned
    rewrite (extraction batches, delete rewrites, registry folds): a
    downstream ``partitionBy(bucket)`` write then emits one file per
    bucket with a trivial sort. Rows must already be filtered to
    ``buckets``. Plain ``repartition(n, col)`` hash-scatter leaves ~1/e
    of slots empty and stacks 3-4 buckets on others; ``bucket_route``
    costs zero extra jobs (no range-partitioner sampling scan)."""
    buckets = sorted(set(buckets))
    if not buckets:
        return df.repartition(1)
    return df.repartition(
        len(buckets),
        bucket_route(F.col(bucket_col), buckets, max(buckets) + 1))
