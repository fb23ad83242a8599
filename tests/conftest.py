import os

import pytest

from datax_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="datax_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session", autouse=True)
def _objectstore_backend_mode(tmp_path_factory):
    """DATAX_TEST_OBJECTSTORE=1 runs the WHOLE suite with commits
    routed through the conditional-put object-store backend instead
    of LocalFS: a session-wide enforcing FakeObjectStore is started
    and its endpoint exported via DATAX_OBJECTSTORE_ENDPOINT, so
    subprocess workers (multiprocess CAS / replay‖compaction tests)
    pick it up too.  Used to prove the commit suite is green on both
    media: `DATAX_TEST_OBJECTSTORE=1 python -m pytest
    tests/test_lake.py tests/test_multiprocess_commit.py`."""
    if os.environ.get("DATAX_TEST_OBJECTSTORE") != "1":
        yield
        return
    from datax_spark.lake import io as lake_io
    from datax_spark.lake.objectstore import (
        FakeObjectStore,
        ObjectStoreBackend,
    )

    srv = FakeObjectStore(str(tmp_path_factory.getbasetemp()))
    os.environ["DATAX_OBJECTSTORE_ENDPOINT"] = srv.endpoint
    lake_io.set_backend(ObjectStoreBackend(srv.endpoint, lease=15.0))
    yield
    os.environ.pop("DATAX_OBJECTSTORE_ENDPOINT", None)
    lake_io.set_backend(lake_io.LocalFSBackend())
    srv.close()
