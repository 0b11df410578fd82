"""Tuned SparkSession factory: the configs this engine assumes at scale,
in one place.

Nothing here is required — every operator works on a stock session — but
these are the settings the 100 TB deployment should start from, and
having them as code keeps the scale guidance executable rather than
buried in docs. :func:`local_session` is the one local session the
bench, scripts, tests and examples run on, sized from the host.
"""

from __future__ import annotations

import os
from typing import Any, Dict, Optional

#: Configs keyed by why they matter.
RECOMMENDED_CONFIGS: Dict[str, str] = {
    # runtime re-planning: coalesce small shuffles, split skewed joins,
    # convert to broadcast when runtime sizes allow
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # row-level runtime filtering: push a bloom filter of the small side's
    # join keys into the big side's scan (shuffle-join complement to
    # static partition pruning)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow transfer for the pandas-UDF surfaces (templates, Faker,
    # multimodal, k-means/PCA partials)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # deterministic timestamps regardless of cluster locale
    "spark.sql.session.timeZone": "UTC",
    # scan granularity: ~128 MB splits keep scan tasks balanced
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def tuned_builder(
    app_name: str = "dbldatagen_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    **overrides: Any,
):
    """A ``SparkSession.builder`` pre-loaded with
    :data:`RECOMMENDED_CONFIGS`; caller overrides win.

    ``shuffle_partitions`` should target ~128-200 MB per post-shuffle
    partition at your data scale (the AQE coalescer trims the excess, so
    erring high is safe; erring low causes spill).
    """
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in RECOMMENDED_CONFIGS.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in overrides.items():
        b = b.config(k, str(v))
    return b


def tuned_session(
    app_name: str = "dbldatagen_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    **overrides: Any,
):
    """``tuned_builder(...).getOrCreate()``."""
    return tuned_builder(
        app_name, master, shuffle_partitions, **overrides
    ).getOrCreate()


def _memory_mb() -> int:
    """Physical RAM in MiB, or the cgroup memory limit when it is lower."""
    mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    for path in ("/sys/fs/cgroup/memory.max",  # cgroup v2
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):  # v1
        try:
            with open(path) as f:
                mb = min(mb, int(f.read()) >> 20)
        except (OSError, ValueError):  # no such file, or "max"
            pass
    return mb


def local_session(app_name: str):
    """A local :func:`tuned_session` sized from the host.

    Cores ``n`` come from ``$SPARK_GRAFT_CPUS`` when set, otherwise from
    the process's CPU affinity; the session runs ``local[n]`` with ``n``
    shuffle partitions and the UI off. Driver memory is a quarter of the
    host's memory (physical RAM, or the cgroup limit when lower),
    clamped to 1-48 GiB. Runtime SQL configs are set on the returned
    session with ``spark.conf.set``.
    """
    n = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    # the rest is for off-heap buffers, Python workers and the OS; the
    # heaviest harness runs (bench.py and scaling_probe.py at sf1) peak
    # under 2.6 GiB of used heap
    driver_mb = min(max(_memory_mb() // 4, 1024), 48 * 1024)
    return tuned_session(
        app_name,
        master=f"local[{n}]",
        shuffle_partitions=n,
        **{
            "spark.ui.enabled": "false",
            "spark.driver.memory": f"{driver_mb}m",
        },
    )
