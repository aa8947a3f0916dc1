import shutil

import pytest

from e2e_el_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="e2e_el_spark_tests")
    yield s
    s.stop()


@pytest.fixture()
def tmp_workdir(tmp_path):
    d = str(tmp_path / "work")
    yield d
    shutil.rmtree(d, ignore_errors=True)
