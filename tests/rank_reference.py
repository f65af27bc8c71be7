"""Reference politeness schedule for the rank tests: the plain per-host
window the engine's salted rank must reproduce,

    host_rank          = row_number() over (partition by host
                                            order by priority, discovery_seq)
    virtual_fetch_time = epoch + greatest(floor((host_rank-1)/limit) * window_s,
                                          (host_rank-1) * crawl_delay_s)

with the deferral split at ``limit × budget_rounds`` rows per host."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def reference_rank(df: DataFrame, priority_col: str = "depth",
                   partition_cols: tuple[str, ...] = ("host",)) -> DataFrame:
    w = Window.partitionBy(*partition_cols).orderBy(priority_col, "discovery_seq")
    return df.withColumn("host_rank", F.row_number().over(w).cast("long"))


def reference_vft(rank: Column, limit, window_s, delay_s=0.0,
                  epoch=0.0) -> Column:
    """The virtual-fetch-time formula; every argument but ``rank`` may be
    a Python number or a Column."""
    def lit(x):
        return x if isinstance(x, Column) else F.lit(x)

    prev = rank - 1
    slot = F.floor(prev / lit(limit)).cast("double")
    return lit(epoch).cast("double") + F.greatest(
        slot * lit(window_s).cast("double"),
        prev.cast("double") * lit(delay_s).cast("double"),
    )


def reference_schedule(df: DataFrame, *, limit: int = 10, window_s: int = 60,
                       budget_rounds: int | None = None,
                       priority_col: str = "depth"
                       ) -> tuple[DataFrame, DataFrame]:
    """(admitted, deferred) with no host policy and round epoch 0."""
    ranked = reference_rank(df, priority_col).withColumn(
        "virtual_fetch_time", reference_vft(F.col("host_rank"), limit, window_s))
    if budget_rounds is None:
        return ranked, ranked.limit(0)
    cap = F.col("host_rank") <= limit * budget_rounds
    return ranked.filter(cap), ranked.filter(~cap)
