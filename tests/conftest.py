import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hipipe_spark.session import get_spark  # noqa: E402


def pytest_runtest_setup(item):
    """Stop the run once the shared Spark JVM has died (e.g. OOM-killed):
    every later test would fail on the dead gateway and bury the cause."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is not None:
        pytest.exit(f"the session Spark JVM exited with code {proc.returncode} "
                    "during an earlier test (OOM kill? check dmesg; the "
                    "driver heap is $SPARK_DRIVER_MEM or 60% of MemTotal); "
                    "stopping instead of failing every later test",
                    returncode=1)


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="hipipe_spark_tests", cores=8,
                     shuffle_partitions=8)


@pytest.fixture(scope="session")
def transcripts(spark):
    from hipipe_spark.datagen import gen_transcripts
    return gen_transcripts(spark, n_convs=60, avg_turns=12,
                           hot_frac=0.05, hot_mult=12).cache()


@pytest.fixture(scope="session")
def transcripts_pdf(transcripts):
    return transcripts.toPandas()


@pytest.fixture(scope="session")
def profiles(spark):
    from hipipe_spark.datagen import gen_profile_updates
    return gen_profile_updates(spark, n_convs=60).cache()


@pytest.fixture(scope="session")
def profiles_pdf(profiles):
    return profiles.toPandas()
