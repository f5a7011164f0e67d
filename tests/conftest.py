import pytest


@pytest.fixture(scope="session")
def spark():
    from py_evalfilter_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    from py_evalfilter_spark.datagen import make_transcripts

    return make_transcripts(n_convs=40, seed=42)


@pytest.fixture(scope="session")
def profiles_pdf(transcripts_pdf):
    from py_evalfilter_spark.datagen import make_profile_events

    return make_profile_events(transcripts_pdf)


@pytest.fixture(scope="session")
def transcripts_sdf(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf)


@pytest.fixture(scope="session")
def profiles_sdf(spark, profiles_pdf):
    return spark.createDataFrame(profiles_pdf)


def relation_root_paths(relation) -> list[str]:
    """Root paths of a JVM file relation (the `relation()` of a
    FileSourceScanExec or a LogicalRelation), as paths without a trailing
    slash — matched by value, not in a plan string that Spark truncates."""
    paths = relation.location().rootPaths()
    return [paths.apply(i).toUri().getPath().rstrip("/") for i in range(paths.size())]
