"""What the session factory hands to Spark's Python workers."""

from __future__ import annotations

import os

from econdatapipeline_spark.session import PACKAGE_ROOT


def test_workers_get_the_package_root_on_their_path(spark):
    """Python UDF workers import the package by module reference, so
    the session puts the directory holding it on their PYTHONPATH —
    whatever the driver's working directory was."""
    pkg = os.path.join(PACKAGE_ROOT, "econdatapipeline_spark", "__init__.py")
    assert os.path.isfile(pkg)
    assert spark.sparkContext.environment["PYTHONPATH"] == PACKAGE_ROOT
    assert spark.conf.get("spark.executorEnv.PYTHONPATH") == PACKAGE_ROOT
