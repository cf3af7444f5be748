import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_feature_store_spark.session import get_spark


def _named_by_node_id(item, config) -> bool:
    """True when a command-line argument names ``item`` (or its class or
    module-level parent) by node id, e.g. ``tests/test_x.py::test_y``."""
    item_path = str(item.path)
    item_rest = item.nodeid.partition("::")[2]
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if not sep:
            continue
        path = os.path.abspath(os.path.join(config.invocation_params.dir, path))
        if path == item_path and (
            item_rest == rest or item_rest.startswith((rest + "::", rest + "["))
        ):
            return True
    return False


def pytest_collection_modifyitems(config, items):
    # The slow tier is deselected by default; `-m …` selects explicitly, and
    # a slow test named by node id runs.
    if config.option.markexpr:
        return
    keep, slow = [], []
    for item in items:
        if item.get_closest_marker("slow") and not _named_by_node_id(item, config):
            slow.append(item)
        else:
            keep.append(item)
    if slow:
        config.hook.pytest_deselected(items=slow)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
