import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lfb_data_warehouse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture
def cc_paths(monkeypatch):
    """Run a connected-components test body on both of the kernel's
    paths: ``for path in cc_paths():`` yields ``"local"`` (the driver
    union-find, under the module's edge cap) and then ``"star"`` (the
    star rounds, with the cap patched to 0). The cap is reset on every
    iteration, so a hypothesis test can call it once per example."""
    from lfb_data_warehouse_spark.operators import graph

    cap = graph.LOCAL_EDGE_CAP

    def paths():
        for path, c in (("local", cap), ("star", 0)):
            monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", c)
            yield path

    return paths
