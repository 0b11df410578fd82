"""Session-state guards shared by the iterative operators."""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def checkpointed(
    spark: SparkSession, checkpoint_dir: Optional[str]
) -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield the checkpoint function an iterative operator truncates its
    lineage with: ``localCheckpoint`` when ``checkpoint_dir`` is None,
    otherwise reliable ``checkpoint`` under ``checkpoint_dir``.

    The session's checkpoint dir is restored to its exact prior value on
    exit, cleared again if it had none. ``setCheckpointDir`` cannot do
    this (it appends a fresh UUID to its argument), so the JVM field is
    written back directly.
    """
    if checkpoint_dir is None:
        yield lambda df: df.localCheckpoint()
        return
    sc = spark.sparkContext._jsc.sc()
    prev = sc.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    try:
        yield lambda df: df.checkpoint()
    finally:
        getattr(sc, "checkpointDir_$eq")(prev)
