"""Python worker daemon of the test session: ``pyspark.daemon`` with zip
directories shared from each worker's first task on.

The package installs ``zipimports._invalidate_caches`` when a worker
imports it, so a worker that never imports the package (a test's own
UDF, the pickling map behind ``createDataFrame(list)``) re-reads every
zip directory at every task start: about 0.5 s of a 100-row
``createDataFrame(...).collect()`` on ``local[8]``, and about half the
wall time of ``tests/test_profile.py``. This daemon installs the same
method before it forks any worker. It loads ``zipimports.py`` from the
source tree by path, without importing the package, so workers still
import the package from the shipped zip, which installs its own copy.

``conftest.py`` selects it with ``spark.python.daemon.module`` and puts
this directory on the workers' ``PYTHONPATH``.
"""

import importlib.util
import os

from pyspark import daemon
from pyspark.core.files import SparkFiles

_ZIPIMPORTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data_misc_tools_spark",
    "zipimports.py",
)

if __name__ == "__main__":
    spec = importlib.util.spec_from_file_location("_zipshare_zipimports", _ZIPIMPORTS)
    zipimports = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(zipimports)
    # this process only forks workers, and each sets the flag at its
    # first task anyway
    SparkFiles._is_running_on_worker = True
    zipimports.share_zip_directories()
    daemon.manager()
