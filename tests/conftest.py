import os
import shutil
import tempfile

import pytest

from gliner_transbronchialbiopsy_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the session default heap (48g) lets one long test session's JVM
    # outgrow the host's RAM; the toy-size tests need far less. Jobs
    # the tests launch as subprocesses inherit the same cap.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="gtbs_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def corpus_pd():
    from gliner_transbronchialbiopsy_spark.sources import corpus

    return corpus.generate_corpus(n_docs=250, seed=42)
