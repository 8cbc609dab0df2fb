import os

import pytest
from hypothesis import settings

# Fuzz runs replay: the same examples on every run, and a failure prints
# the blob that reproduces it. `--hypothesis-profile=default` draws fresh
# random examples instead.
settings.register_profile("derandomized", derandomize=True, print_blob=True)
settings.load_profile("derandomized")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("pdf-parser-spark-tests")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def transcripts_sf0001():
    from pdf_parser_spark.generator import transcripts_path

    return transcripts_path(0.001)
