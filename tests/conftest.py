import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from t2p_spark.fixtures import (  # noqa: E402,F401  (re-exported to tests)
    REF_JSON_DIR, REFERENCE_MISSING, fixture_ids, golden_meta as load_golden,
    load_textract_json, reference_available,
)

FIXTURE_IDS = fixture_ids()

# The one mark for tests that read the external reference inputs.
needs_reference = pytest.mark.skipif(not reference_available(),
                                     reason=REFERENCE_MISSING)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("t2p-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.default.parallelism", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .getOrCreate()
    )
    yield spark
    spark.stop()
