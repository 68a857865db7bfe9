"""Only ``storage.py`` may talk to the Hadoop FileSystem through py4j:
every other module handles plain Python values, so a new backend or a
fix to filesystem semantics lands in one place."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "procurement_data_pipeline_spark"
_HADOOP = re.compile(r"org\.apache\.hadoop\.fs|\._jvm|\._jsc")


def test_only_storage_touches_hadoop_fs():
    offenders = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "storage.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _HADOOP.search(line)
    ]
    assert offenders == []
