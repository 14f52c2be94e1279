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


@pytest.fixture
def arrow_off(spark):
    """The session with Arrow conversion off, as in a vanilla session,
    for the length of one test."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, was)


def runs_python_task(df) -> bool:
    """Whether computing ``df`` runs a Python task over its rows: a
    ``PythonRDD`` in the lineage of its physical plan, as a frame built
    from pickled Python rows has. A broadcast side runs in a job of its
    own, outside that lineage, so the RDD leaves of the analyzed plan
    are checked as well."""
    qe = df._jdf.queryExecution()
    lineages = [qe.toRdd().toDebugString()]
    nodes = [qe.analyzed()]
    while nodes:
        node = nodes.pop()
        if node.nodeName() in ("LogicalRDD", "ExternalRDD"):
            lineages.append(node.rdd().toDebugString())
        kids = node.children()
        nodes += [kids.apply(i) for i in range(kids.size())]
    return any("PythonRDD" in s for s in lineages)


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
