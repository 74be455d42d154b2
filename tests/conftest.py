import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from rdf_rdfxml_spark.plans.pipeline import default_session
    spark = default_session(
        app="rdf-rdfxml-tests",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
