import pytest

from nyc_tlc_trip_data_pipelines_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("engine-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def checkpointed(spark, monkeypatch):
    """The DataFrames handed to ``localCheckpoint`` while the test runs,
    in call order. A checkpoint executes while its operator is built and
    shows in the returned plan only as a ``Scan ExistingRDD`` leaf, so
    plan assertions about the stages before it read these frames."""
    frame_type = type(spark.range(1))
    frames, checkpoint = [], frame_type.localCheckpoint

    def spy(df, *args, **kwargs):
        frames.append(df)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_type, "localCheckpoint", spy)
    return frames
