"""Entity partitioning & skew handling.

North-rule requirements: sequences are range-partitioned and *salted* by
``(source, doc_id)``; one entity must never be split across kernel calls
(the recurrence is stateful), so the salt perturbs the entity->partition
assignment, not the rows of an entity.

Strategy
--------
* ``salted_entity_key(df)`` adds ``_ekey = xxhash64(source, doc_id, salt)``.
  Hashing the range key decorrelates lexicographic locality (all of one
  source's docs landing in one range) while keeping every row of an entity
  on the same key — a *hash-mixed range partitioning*.
* ``repartition_by_entity`` then either
  - ``repartitionByRange(n, _ekey)`` — sorted ranges of the mixed key, or
  - ``repartition(n, _ekey)``        — plain hash partitioning,
  both of which keep entities whole.
* Oversized-entity tier: entities whose ``n_tok`` exceeds
  ``oversize_threshold`` are routed to their own partition set
  (two-tier union) so a handful of giant documents cannot straggle the
  main wave of tasks.  Mirrors the skew concern in the reference's
  heavy-tailed doc-length regime (SURVEY §7.3-7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SALT_LIT = 0x5EED_CAFE


def salted_entity_key(df: DataFrame, salt: int = SALT_LIT) -> DataFrame:
    """Add a hash-mixed entity key ``_ekey`` over (source, doc_id)."""
    return df.withColumn(
        "_ekey", F.xxhash64(F.col("source"), F.col("doc_id"), F.lit(salt)))


def repartition_by_entity(df: DataFrame, num_partitions: int,
                          by_range: bool = True,
                          salt: int = SALT_LIT) -> DataFrame:
    """Repartition keeping each (source, doc_id) entity whole, with the
    partition assignment salted to defeat key-space locality skew."""
    keyed = salted_entity_key(df, salt)
    if by_range:
        out = keyed.repartitionByRange(num_partitions, F.col("_ekey"))
    else:
        out = keyed.repartition(num_partitions, F.col("_ekey"))
    return out.drop("_ekey")


def split_oversized(df: DataFrame, oversize_threshold: int,
                    n_tok_col: str = "n_tok") -> tuple[DataFrame, DataFrame]:
    """Two-tier plan: (normal, oversized) by per-entity length.

    Callers process the oversized tier with more partitions per row (e.g.
    ``repartition(count)``) so each giant doc gets its own task.
    """
    normal = df.filter(F.col(n_tok_col) <= oversize_threshold)
    oversized = df.filter(F.col(n_tok_col) > oversize_threshold)
    return normal, oversized


def tiered_repartition(df: DataFrame, num_partitions: int,
                       oversize_threshold: int,
                       n_tok_col: str = "n_tok") -> DataFrame:
    """Two-tier skew layout ready for a doc-grain kernel job: normal
    entities round-robin over ``num_partitions`` tasks; every oversized
    entity gets a SINGLETON partition (range partitioning of n giants
    into n partitions -> exactly one each), so a multi-million-token doc
    never shares a task with a wave of normal docs and two giants never
    straggle the same task.

    The giant's own wall is irreducible (the recurrence is sequential
    per entity), so the optimum any layout can reach is
    ``max(T(largest giant), T(normal mass)/cores)`` — this layout
    reaches it.  The ``count()`` is bounded driver-side bookkeeping
    (number of giants only).  Measured evidence: BENCH/BASELINE.md skew
    section.

    Isolation mechanism (ADVICE r3): each giant ENTITY gets an explicit
    dense rank id and the tier range-partitions on that id — sampled
    range bounds over raw doc_id strings could have co-located two
    giants (and dense ids also make rows of a duplicated entity share
    one partition BY DESIGN: the recurrence needs entities whole).  The
    range sampler draws ~100 keys per output partition, i.e. it sees
    every one of the n_big dense ids, so the bounds split exactly one
    id per partition.  The rank is computed over the DISTINCT entity
    keys only — a tiny (n_big x 2-column) set whose single-partition
    window is driver-cheap — and joined back onto the rows by key, so
    the giant rows themselves (multi-million-token arrays) never funnel
    through one task to get their id."""
    from pyspark.sql import Window

    normal, oversized = split_oversized(df, oversize_threshold, n_tok_col)
    keys = oversized.select("source", "doc_id").distinct()
    n_big = keys.count()
    if n_big == 0:
        return df.repartition(num_partitions)
    w = Window.orderBy("source", "doc_id")
    ranked_keys = keys.withColumn("_pid", F.dense_rank().over(w))
    big = oversized.join(F.broadcast(ranked_keys), ["source", "doc_id"])
    return (normal.repartition(num_partitions)
            .unionByName(big.repartitionByRange(n_big, "_pid")
                         .drop("_pid")))
