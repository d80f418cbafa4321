from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from otar3088_spark.session import get_spark

    s = get_spark(app_name="otar3088-tests", cores=int(os.environ["SPARK_GRAFT_CPUS"]))
    yield s


@pytest.fixture
def job_count(spark):
    """``job_count(fn) -> (fn(), number of Spark jobs fn() ran)``, counted by
    job group."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        # a fresh group per call: id(fn) can repeat once a lambda is freed
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def py4j_calls():
    """``py4j_calls(fn) -> (fn(), number of py4j round trips fn() made)``,
    counted on ``ClientServerConnection.send_command`` from every thread,
    so py4j's garbage-collection messages are in the count too. Python
    garbage is collected first, so earlier work's messages stay out."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command

    def count(fn):
        calls = 0
        lock = threading.Lock()

        def counting(self, command):
            nonlocal calls
            with lock:
                calls += 1
            return orig(self, command)

        gc.collect()
        ClientServerConnection.send_command = counting
        try:
            out = fn()
        finally:
            ClientServerConnection.send_command = orig
        return out, calls

    return count


@pytest.fixture(scope="session")
def transcripts_pd():
    from otar3088_spark.synth import transcripts_pandas

    return transcripts_pandas(n_convs=40)


@pytest.fixture(scope="session")
def dictionary_pd():
    from otar3088_spark.synth import entity_dictionary_pandas

    return entity_dictionary_pandas()


@pytest.fixture(scope="session")
def events_pd():
    from otar3088_spark.synth import events_pandas

    return events_pandas(n=200)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pd):
    return spark.createDataFrame(transcripts_pd).cache()


@pytest.fixture(scope="session")
def dictionary_df(spark, dictionary_pd):
    return spark.createDataFrame(dictionary_pd)


@pytest.fixture(scope="session")
def events_df(spark, events_pd):
    return spark.createDataFrame(events_pd)


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
