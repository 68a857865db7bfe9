"""Raw Hadoop FileSystem handles for tests that inspect or fault-inject
below the package's ``storage`` layer (the package itself never sees a
py4j object outside ``storage.py``)."""

from __future__ import annotations


def fs_path(spark, uri: str):
    """(FileSystem, Path, jvm) for ``uri``."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path, jvm
