"""The one local session factory: the test session is built by it, it
carries the recommended configs, and no harness file hand-builds its own
session."""

import pathlib

from dbldatagen_spark import RECOMMENDED_CONFIGS

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_test_session_is_the_tuned_host_sized_session(spark):
    for k, v in RECOMMENDED_CONFIGS.items():
        assert spark.conf.get(k) == v, k
    n = spark.sparkContext.defaultParallelism
    assert spark.sparkContext.master == f"local[{n}]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    assert spark.conf.get("spark.ui.enabled") == "false"
    # the semiJoinReduction key hung even this trivial job
    assert spark.range(10).count() == 10


def test_no_hand_built_sessions():
    """bench.py, scripts/, tests/ and examples/ all take their session
    from ``local_session``; perfbench/ owns its own and is not scanned."""
    files = [REPO / "bench.py"] + [
        p for d in ("scripts", "tests", "examples")
        for p in sorted((REPO / d).rglob("*.py"))
    ]
    offenders = [
        str(p.relative_to(REPO)) for p in files
        if p != pathlib.Path(__file__).resolve()
        and "SparkSession.builder" in p.read_text()
    ]
    assert offenders == []
