import os
from pathlib import Path

import pytest

from nifi_processors_spark.session import get_spark

# the reference NiFi project's shipped assets (rule-project zip and the
# geonames demo dataset), checked out next to this repository; tests that
# read them skip where they are absent — tests/data holds a synthetic
# stand-in that covers the same split -> rule -> route path offline
REFERENCE_DIR = Path(__file__).resolve().parents[2] / "reference"
REF_ZIP = str(REFERENCE_DIR / "nifi_test2_dev.zip")
REF_DATA = str(REFERENCE_DIR / "allCountries_100.txt")

needs_reference = pytest.mark.skipif(
    not (os.path.exists(REF_ZIP) and os.path.exists(REF_DATA)),
    reason="reference assets not present",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
