from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blacklab_spark.config import EngineConfig  # noqa: E402
from blacklab_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("blacklab-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """spark_jobs(fn) -> (fn(), ids of the Spark jobs it ran). The
    listener bus is drained on both sides, so no job is missed or
    counted late."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracker = spark.sparkContext.statusTracker()

    def run(fn):
        bus.waitUntilEmpty(30_000)
        before = set(tracker.getJobIdsForGroup(None) or [])
        out = fn()
        bus.waitUntilEmpty(30_000)
        return out, sorted(set(tracker.getJobIdsForGroup(None) or []) - before)

    return run


@pytest.fixture(scope="session")
def small_cfg():
    # small segments/blocks so multi-segment and multi-block paths are
    # actually exercised at test scale
    return EngineConfig(segment_size=256, block_size=16)


@pytest.fixture(scope="session")
def small_corpus(spark, small_cfg, tmp_path_factory):
    """1000-turn deterministic corpus + built index, shared per session."""
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.synth import generate_pandas

    pdf = generate_pandas(1000, seed=42)
    df = spark.createDataFrame(pdf)
    index_dir = str(tmp_path_factory.mktemp("idx") / "small")
    corpus = Corpus.build(spark, df, index_dir, small_cfg)
    return corpus, pdf
