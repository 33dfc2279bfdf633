"""Custom relational operators Spark lacks as single primitives,
re-expressed as compositions of DataFrame ops (never driver-side loops):

- ``asof``       — as-of (point-in-time) join via the union + carry-forward
                   window formulation: one shuffle per key, linear state.
- ``range_join`` — interval/band joins with broadcast or bucketed
                   strategies.
- ``prefix``     — exact global rank / running total (range partition +
                   broadcast per-slice offsets), shared by ntile, ids,
                   budget, percentile and pipeline.seeded_shuffle.
- ``buckets``    — capped bucket self-join (one hash exchange sized by
                   get_spark's partitioning policy, rank-limit cap
                   before collect_list, in-bucket pair expansion), shared
                   by the MinHash, SimHash, carry-shingles Jaccard,
                   portable MinHash and fuzzy edit-distance joins.
- ``skew``       — salted joins for hot keys; bucketed at-rest layout
                   for exchange-free repeated joins.
"""

from bq_duckdb_spark.operators.asof import asof_join
from bq_duckdb_spark.operators.range_join import range_join
from bq_duckdb_spark.operators.skew import (
    bucketed_join_ready,
    join_with_strategy,
    salted_join,
    write_bucketed,
)

__all__ = [
    "asof_join",
    "range_join",
    "salted_join",
    "write_bucketed",
    "bucketed_join_ready",
    "join_with_strategy",
]
