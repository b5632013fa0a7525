import os

import pytest

from graphrag_litex_spark import datagen
from graphrag_litex_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="graphrag_litex_spark_tests",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def corpus_sf0001():
    """Deterministic synthetic corpus + single-process golden outputs."""
    return datagen.ensure_corpus(0.001)


@pytest.fixture(scope="session")
def pipeline_sf0001(spark, corpus_sf0001, tmp_path_factory):
    """Full pipeline run at sf0.001 (shared across e2e tests)."""
    from graphrag_litex_spark.plans.pipeline import run_pipeline

    out = str(tmp_path_factory.mktemp("kg_out"))
    return run_pipeline(spark, corpus_sf0001["transcripts"], out, resume=False)
