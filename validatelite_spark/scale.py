"""The library's scale decisions, in one place.

Operators stay lazy plans; the few choices that depend on the size or
shape of the data are made here, once, instead of being copied into
every operator that needs them:

- ``spread``: repartition an under-parallel input before heavy per-row
  work;
- ``seam``: materialize an intermediate that several branches of one
  plan read;
- ``broadcast_if_fits``: hand the planner a row count it cannot
  estimate (checkpointed frames), judged against the session's own
  broadcast threshold.

Join strategy is otherwise left to the session: Catalyst broadcasts a
side whose estimate fits ``spark.sql.autoBroadcastJoinThreshold``, and
AQE re-decides from the real sizes at run time. No operator counts a
join side to pick a strategy.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to the session parallelism when it has fewer
    than half that many partitions, else ``df`` itself.

    A small parquet file is often one row group, i.e. one input split,
    and Spark cannot split a row group: every projection above the scan
    would run on one core. At scale (many row groups) this is a no-op,
    and the target count derives from the session, not a constant."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par // 2:
        return df.repartition(par)
    return df


def seam(df: DataFrame, staging_dir: str | None = None) -> DataFrame:
    """Materialize ``df`` once for the several branches that read it.

    ``staging_dir`` set: write-and-reread a staged parquet there. That
    is the shape for intermediates bigger than the executors' storage:
    the stage lives on the shared file system, survives executor loss
    and can be reused across jobs. Otherwise ``df`` is persisted at
    ``MEMORY_AND_DISK``."""
    if staging_dir is not None:
        df.write.mode("overwrite").parquet(staging_dir)
        return df.sparkSession.read.parquet(staging_dir)
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def broadcast_if_fits(df: DataFrame, rows: int) -> DataFrame:
    """``df`` with a broadcast hint when ``rows`` rows of its schema fit
    the session's ``spark.sql.autoBroadcastJoinThreshold``, else ``df``.

    For frames whose row count is already known but whose size estimate
    is not, such as checkpoints whose estimate is inherited from the
    plan they replaced. The size is judged the way the planner judges
    its own estimates (8 bytes of row overhead plus each column's
    default size), so a threshold of -1 disables the hint here too."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    row_bytes = 8 + df._jdf.schema().defaultSize()
    if rows * row_bytes <= conf.autoBroadcastJoinThreshold():
        return F.broadcast(df)
    return df
