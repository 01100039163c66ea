import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFDATA = "/root/reference/sql_project-master/data"
SEED_DUMP = "/root/reference/sql_project-master/ddl_dml.sql"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from etl_process_for_detecting_fraudulent_transactions_spark.session import get_spark

    s = get_spark(app_name="fraudmart-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def tiny_corpus(tmp_path_factory):
    """perfbench's seeded ``tiny`` fraud-day corpus (3 days, planted REP_FRAUD
    counts per day in its manifest); generated once, never written to — copy
    ``landing/`` before running days, since run_day archives its inputs."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", "corpus.py")
    spec = importlib.util.spec_from_file_location("perfbench_corpus", path)
    corpus = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = corpus  # its dataclasses resolve through it
    spec.loader.exec_module(corpus)
    out = str(tmp_path_factory.mktemp("tiny_corpus") / "seed1")
    manifest = corpus.build(out, 1, "tiny")
    return out, manifest
