"""Candidate-pair generation from LSH bands, with hot-band skew control.

Strategy (SURVEY.md §4.3): one shuffle groups the band rows by band key
straight into a list of doc ids; then

* groups with size <= max_band_group emit ALL within-group pairs,
* oversized groups (boilerplate bands — whp near-identical docs) emit
  STAR pairs (anchor = min doc id) — O(n) instead of O(n²) while
  preserving connectivity for clustering.

Pairs are deduped across bands with dropDuplicates — the verify stage
then sees each candidate once.  ``cross_band_pairs`` is the incremental
shape: new docs pair only with old ones through a band equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the 32-bit band hash collides at ~n²/2^33 row pairs; a collision
# MERGES two groups, and a merge that pushes a small genuine group past
# max_band_group would flip it to star linking through a foreign anchor
# (recall loss), so band_id stays in the group key
BAND_KEY = ["band_id", "band_hash"]


def _band_key(bands: DataFrame) -> list:
    """The group key of ``bands`` (``neardup_bench`` replays the band
    exchange with it)."""
    return list(BAND_KEY)


def candidate_pairs(bands: DataFrame, max_band_group: int = 64,
                    id_col: str = "doc_id", mode: str = "grouped") -> DataFrame:
    """bands(band_id, band_hash, doc_id) → pairs(id1, id2), id1 < id2.

    mode="grouped" (default): ONE shuffle — groupBy(band key) straight
    to collect_list (all pairs under the cap, star pairs above it).
    Collected lists are bounded: ids are 8 bytes and oversized groups
    degrade to star linking, so even a 10^6-doc boilerplate band costs
    one 8MB group row, not 10^12 join rows.

    mode="count_join": count per band key first (primitive partial-agg
    state), broadcast the rare duplicated hashes back as a semi-join,
    collect_list only the survivors.  Cuts per-key object buffers from
    the big exchange, but consumes the band table TWICE — only pays off
    when band generation is cheap relative to the exchange (measured
    slower than "grouped" here, kept for cluster-scale corpora where
    the collect_list state itself is the memory risk).
    """
    slim = bands.select(*BAND_KEY, id_col)
    if mode == "count_join":
        dup_hashes = (
            slim.groupBy(*BAND_KEY)
            .agg(F.count(F.lit(1)).alias("grp_n"))
            .filter(F.col("grp_n") >= 2)
            .select(*BAND_KEY)
        )
        # no forced broadcast: this mode is meant for corpus scales
        # where duplicated hashes are NOT rare (30-50% web dup rates ->
        # O(10^7+) rows); AQE broadcasts when the set is actually small
        # and shuffles when it isn't
        slim = slim.join(dup_hashes, BAND_KEY)

    grouped = (
        slim.groupBy(*BAND_KEY)
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    n = F.size("ids")
    # all pairs (i<j) for small groups; star (min, other) for hot groups
    small = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.filter(
                F.transform(F.col("ids"), lambda y: F.when(x < y, F.struct(
                    x.alias("id1"), y.alias("id2")))),
                lambda s: s.isNotNull(),
            ),
        )
    )
    anchor = F.array_min("ids")
    star = F.filter(
        F.transform(
            F.col("ids"),
            lambda y: F.when(y != anchor, F.struct(anchor.alias("id1"),
                                                   y.alias("id2"))),
        ),
        lambda s: s.isNotNull(),
    )
    pairs = grouped.select(
        F.explode(F.when(n <= max_band_group, small).otherwise(star)).alias("p")
    ).select("p.id1", "p.id2")
    return pairs.dropDuplicates(["id1", "id2"])


def cross_band_pairs(new_bands: DataFrame, old_bands: DataFrame,
                     id_col: str = "doc_id") -> DataFrame:
    """new × old bands → pairs(id1 = new, id2 = old), each once: the
    equi-join on ``(band_id, band_hash)`` that pairs an increment with
    a corpus without re-pairing the corpus against itself.  It touches
    old rows only on matched keys; a hot band is the same skew risk as
    in ``candidate_pairs``, but here it is not star-capped.
    """
    bn = new_bands.select(*BAND_KEY, F.col(id_col).alias("id1"))
    bo = old_bands.select(*BAND_KEY, F.col(id_col).alias("id2"))
    return (
        bn.join(bo, BAND_KEY)
        .where(F.col("id1") != F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
