"""Distributed Bloom filter as plain DataFrame ops — the scale path
for membership prefilters (benchmark decontamination, blocklist
probes) when the member set is too big to broadcast as raw keys.

Spark's own ``BloomFilterAggregate`` exists but is internal-only (not
in the public function registry), and ``df.stat.bloomFilter`` returns
a driver-side JVM object unusable inside a plan. The same structure
falls out of two public primitives:

- **build**: explode each key into ``k`` hashed bit positions
  (``pmod(xxhash64(key, seed), m)``), reduce to a table of set words
  (``word_idx = pos >> 6``, ``bit_or`` of ``1 << (pos & 63)``) — one
  map-side-combined aggregate; the result is at most ``m / 64`` rows
  (longs), independent of member-set cardinality.
- **probe**: ``k`` *broadcast* joins of the probe side's word indexes
  against that table, ANDing the bit tests — all map-side, zero
  shuffles of the (100 TB) probe relation, whole-stage codegen
  throughout.

Classic guarantee: **no false negatives** (every member key has all k
bits set), tunable false positives (≈ ``(1 - e^{-k n / m})^k``). Used
as a *prefilter* in front of an exact join, false positives cost only
wasted verification, so the composed operator's output is exactly the
un-prefiltered result — which is what makes the decontamination query
hash-checkable against the exact-SQL oracle even though the filter's
bit pattern is engine-specific.

Sizing at 100 TB: a 100M-shingle benchmark set at 10 bits/key is
``m = 1G`` bits → 16M words ≈ 128 MB broadcast — at the edge but
feasible; beyond that, partition the benchmark set and run the
prefilter per partition (the build is a cheap aggregate either way).
The raw-key broadcast the exact join needs afterwards only receives
the ~0.1% of traffic the bloom let through.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from capital.io import read_parquet

#: Default filter size (2^20 bits = 16k words = 128 KB broadcast) and
#: hash count — ~10 bits/key at 100k members → ~1% false positives.
DEFAULT_M_BITS = 1 << 20
DEFAULT_K = 3


def _positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions for a key: ``pmod(xxhash64(key, seed), m)``
    per seed — deterministic, retry-stable, JVM codegen."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_words(
    keys: DataFrame,
    col: str = "g",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Build the filter: a ``(word_idx, word)`` table of set bits.

    One explode (k rows per key) + one map-side-combined ``bit_or``
    aggregate; output is ≤ ``m_bits / 64`` rows regardless of input
    cardinality, so it broadcasts.
    """
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias("p")
    return (
        keys.select(pos)
        .select(
            # SQL expr: the Python shiftleft/shiftright API only takes
            # literal ints for the shift amount; SQL takes expressions.
            F.expr("shiftright(p, 6)").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
            ).alias("b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("b").alias("word"))
    )


def bloom_might_contain(
    probe: DataFrame,
    words: DataFrame,
    col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    out_col: str = "might_contain",
) -> DataFrame:
    """Attach ``out_col``: true iff all k bits for ``probe[col]`` are
    set in ``words``. k broadcast left joins (map-side; the probe
    relation is never shuffled) + an AND of bit tests. A missing word
    row means the bit is unset → false.
    """
    out = probe
    for i, pos in enumerate(_positions(F.col(col), m_bits, k)):
        out = out.withColumn(f"__p_{i}", pos)
    conds = []
    for i in range(k):
        w = words.select(
            F.col("word_idx").alias(f"__wi_{i}"),
            F.col("word").alias(f"__w_{i}"),
        )
        out = out.join(
            F.broadcast(w),
            F.expr(f"shiftright(__p_{i}, 6)") == F.col(f"__wi_{i}"),
            "left",
        )
        bit_set = F.expr(
            f"shiftright(__w_{i}, CAST(__p_{i} % 64 AS INT)) & 1 = 1"
        )
        conds.append(F.coalesce(bit_set, F.lit(False)))
    keep = conds[0]
    for c in conds[1:]:
        keep = keep & c
    return out.withColumn(out_col, keep).drop(
        *[f"__p_{i}" for i in range(k)],
        *[f"__wi_{i}" for i in range(k)],
        *[f"__w_{i}" for i in range(k)],
    )


def bloom_prefilter(
    probe: DataFrame,
    members: DataFrame,
    probe_col: str,
    member_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Rows of ``probe`` that *might* match a member key — the
    no-false-negative prefilter to put in front of an exact join.
    Composing ``exact_join(bloom_prefilter(P, M), M)`` returns exactly
    ``exact_join(P, M)``; the bloom only prunes the traffic."""
    words = bloom_words(members.select(F.col(member_col).alias("__k")), "__k", m_bits, k)
    return (
        bloom_might_contain(probe, words, probe_col, m_bits, k, "__mc")
        .filter(F.col("__mc"))
        .drop("__mc")
    )


def merge_bloom_words(*word_tables: DataFrame) -> DataFrame:
    """Merge bloom word tables built over different batches (same
    ``m_bits``/``k``): ``bit_or`` is associative and commutative, so a
    filter grown batch-by-batch is BIT-IDENTICAL to one built over the
    union of the batches (property-tested) — the growing-blocklist /
    growing-benchmark shape, one tiny aggregate per merge, history
    never re-hashed."""
    if not word_tables:
        raise ValueError("merge_bloom_words needs at least one table")
    acc = word_tables[0]
    for t in word_tables[1:]:
        acc = acc.unionByName(t)
    return acc.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def write_bloom(words: DataFrame, path: str) -> None:
    """Persist a word table (≤ m/64 rows — one small file)."""
    words.coalesce(1).write.mode("overwrite").parquet(path)


def read_bloom(spark, path: str) -> DataFrame:
    return read_parquet(spark, path)
