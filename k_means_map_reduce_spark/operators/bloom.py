"""Bloom-filtered semi-join reduction (SURVEY.md §2b joins, scale path).

The 100 TB problem this solves: a semi-join where the key side is too big to
broadcast AS ROWS but its key-set fingerprint is tiny. Shipping a Bloom
filter of the keys to the fact scan prunes most fact rows BEFORE the shuffle,
so the exchange moves only probable matches; the exact semi-join afterwards
removes the false positives, so the final result is EXACT (bloom only
prunes — never adds, never drops: no false negatives by construction).

This is what Spark's own runtime row-level filtering
(spark.sql.optimizer.runtime.bloomFilter.enabled) injects automatically for
big shuffle joins; here it is expressed manually so the mechanism is visible,
testable, and available to any composed plan (e.g. pre-filtering a fact
BEFORE an expensive window or explode, which the optimizer's version cannot
do). Construction is one JVM-side aggregation over the key side (xxhash64 ×
k seeds → bit positions → 64-bit words via bit_or); the filter itself is a
few KB of longs broadcast as a literal array, and the membership probe is a
pure codegen expression (array index + bit test per hash) — no UDF anywhere.

Everything is deterministic: xxhash64 with fixed seeds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .._memo import memoized
from ..registry import query
from ..sources import load_table

_NUM_HASHES = 5


def _positions(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """k deterministic bit positions for a key (xxhash64 seeded 0..k-1)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)) for i in range(num_hashes)
    ]


def _bit_mask(pos: Column) -> Column:
    """1L << (pos % 64) — via call_function: the python F.shiftleft wrapper
    only takes a literal int shift, but the SQL expression takes a column."""
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
    )


def build_bloom_words(
    df: DataFrame, key_col: str, num_bits: int = 1 << 16, num_hashes: int = _NUM_HASHES
) -> list[int]:
    """Aggregate the key side into a dense Bloom bitset (list of 64-bit words).

    One narrow pass over the keys: explode each key into its k bit positions,
    OR positions into words with bit_or — a partial-aggregating shuffle of at
    most num_bits/64 groups. The collect is num_bits/64 longs (num_bits=2^16
    → 8 KB), i.e. the filter is broadcast-small BY CONSTRUCTION no matter how
    many keys went in; only the false-positive rate degrades with key count
    (size num_bits ≈ 10 bits/key for ~1% FPR at k=5).
    """
    assert num_bits % 64 == 0
    key = F.col(key_col)
    pos = F.explode(F.array(*_positions(key, num_bits, num_hashes))).alias("pos")
    words = (
        df.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            _bit_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["word_idx"]] = r["word"]
    return dense


def bloom_might_contain(
    key: Column, words: list[int], num_hashes: int = _NUM_HASHES
) -> Column:
    """Codegen membership probe: all k bits set → maybe-member (exact
    non-members only when false). The word array rides into the plan as one
    array literal — Catalyst broadcasts it inside the serialized expression
    tree, so every executor tests locally with zero extra I/O."""
    num_bits = len(words) * 64
    # r14: F.lit(list) assembles the array literal one py4j call per
    # element (~0.7 s for 1024 words, re-paid on EVERY query construction);
    # one SQL-text parse builds the identical array literal JVM-side in a
    # single call.
    bitset = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
    probe = F.lit(True)
    for p in _positions(key, num_bits, num_hashes):
        word = F.element_at(bitset, (p / 64).cast("int") + 1)
        probe = probe & (word.bitwiseAND(_bit_mask(p)) != 0)
    return probe


def bloom_might_contain_col(
    key: Column, bitset_col: Column, num_bits: int, num_hashes: int = _NUM_HASHES
) -> Column:
    """Membership probe against a PER-ROW bitset column (array<long>) —
    lets a tiny index table carry one Bloom filter per row (e.g. per data
    file) and be probed with a literal key in one codegen pass."""
    probe = F.lit(True)
    for p in _positions(key, num_bits, num_hashes):
        word = F.element_at(bitset_col, (p / 64).cast("int") + 1)
        probe = probe & (word.bitwiseAND(_bit_mask(p)) != 0)
    return probe


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    num_bits: int = 1 << 16,
    words: list[int] | None = None,
) -> DataFrame:
    """EXACT semi-join with a Bloom pre-filter on the fact side.

    fact.where(bloom(fact_key)) ⋉ keys — the where() sits below the join so
    Catalyst pushes it into the fact scan; the semi-join is forced to
    SHUFFLE_HASH to model the at-scale regime where the key side does NOT
    fit a broadcast (with a broadcastable key side you would just broadcast
    and the bloom would be pointless). Pass pre-built ``words`` to reuse a
    memoized filter — the build is one aggregation job + a collect, a
    build-time artifact like an ANN index."""
    if words is None:
        words = build_bloom_words(keys, keys_key, num_bits=num_bits)
    pruned = fact.where(bloom_might_contain(F.col(fact_key), words))
    return pruned.join(
        keys.hint("SHUFFLE_HASH"),
        pruned[fact_key] == keys[keys_key],
        "left_semi",
    )


def _high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    )


# The filter words are a deterministic build artifact of (sf_dir, key set) —
# memoize like the ANN indexes so repeat invocations time the probe + exact
# join, not a rebuild aggregation job per call.
@memoized("bloom.semi_join_words")
def _semi_join_words(spark: SparkSession, sf_dir: str) -> list[int]:
    return build_bloom_words(_high_balance_customers(spark, sf_dir), "c_custkey")


@query(
    "bloom_semi_join_orders",
    oracle="""
    SELECT
      o_orderkey,
      o_custkey,
      CAST(o_totalprice AS DOUBLE) AS total_price,
      CAST(o_orderdate AS VARCHAR) AS order_date
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
    )
    """,
)
def bloom_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of high-balance BUILDING customers via Bloom-reduced semi-join.

    The Bloom pre-filter prunes non-matching orders at the scan; the exact
    shuffle semi-join then removes Bloom false positives, so the result
    equals the plain semi-join bit-for-bit (the DuckDB oracle computes the
    plain IN-subquery). tests/test_bloom.py asserts the equivalence, the
    false-positive-rate bound, and that the probe expression is pushed into
    the orders scan.
    """
    cust = _high_balance_customers(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    words = _semi_join_words(spark, sf_dir)
    return bloom_semi_join(orders, cust, "o_custkey", "c_custkey", words=words).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.col("o_orderdate").cast("string").alias("order_date"),
    )
