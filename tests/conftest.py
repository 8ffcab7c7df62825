import sys
from pathlib import Path

import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from open_source_search_engine_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def micro_docs(spark):
    """FIXTURES.md §4: 5 tiny docs with hand-checkable tf/df/doclen."""
    rows = [
        ("r/a", "a.py", "c1", "python", "binary search tree in python"),
        ("r/a", "b.py", "c2", "python", "linear search list"),
        ("r/b", "c.go", "c3", "go", "binary tree traversal binary heap"),
        ("r/b", "d.go", "c4", "go", "hash map and hash set"),
        ("r/c", "e.rs", "c5", "rust", "binary search search search"),
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


@pytest.fixture(scope="session")
def micro_index(spark, micro_docs, tmp_path_factory):
    from open_source_search_engine_spark.operators.build import build_index

    root = str(tmp_path_factory.mktemp("microidx"))
    return build_index(
        spark,
        micro_docs,
        root,
        n_shards=1,
        code_aware=False,
        block_size=4,
        salt_target=1000,
    )
