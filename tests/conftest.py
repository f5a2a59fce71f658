from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parquet_storage_query_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def folder_corpus(tmp_path_factory) -> str:
    """The smoke corpus with `events.parquet` stored as a folder of 4
    files, the table shape the engine serves (a folder of blobs)."""
    import shutil

    import pyarrow.parquet as pq

    dest = tmp_path_factory.mktemp("folder_corpus")
    for src in Path(SF_SMOKE).glob("*.parquet"):
        if src.name != "events.parquet":
            shutil.copy(src, dest / src.name)
    events = pq.read_table(Path(SF_SMOKE) / "events.parquet")
    (dest / "events.parquet").mkdir()
    step = -(-events.num_rows // 4)
    for i in range(4):
        pq.write_table(events.slice(i * step, step), dest / "events.parquet" / f"part-{i:05d}.parquet")
    return str(dest)
