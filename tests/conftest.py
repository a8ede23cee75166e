"""Shared fixtures: one session-scoped SparkSession for the whole run.

Tests use a small core count + few shuffle partitions: correctness here,
scale in bench.py.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from comm_detect_spark.oracle import Adjacency
from comm_detect_spark.oracle.graphs import _JAZZ, parse_dimacs

# in-repo parity graph (tests/fixtures/make_planted.py); the Spark-vs-oracle
# parity tests hold on any graph, so they run on it when jazz is absent
PLANTED = os.path.join(os.path.dirname(__file__), "fixtures", "planted.graph")
HAVE_JAZZ = os.path.exists(_JAZZ)
PARITY_GRAPH = _JAZZ if HAVE_JAZZ else PLANTED

# for the few jazz-specific known values (n=198, 2742 edges, weight_net
# 5484, triangle total 17899)
requires_jazz = pytest.mark.skipif(
    not HAVE_JAZZ, reason=f"jazz-specific known value; {_JAZZ} is absent"
)


@pytest.fixture(scope="session")
def spark():
    from comm_detect_spark.session import get_spark

    s = get_spark(app_name="comm-detect-tests", cores=8, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def jazz():
    """(n, src, dst, w) adjacency entries of the parity graph: the
    reference's own jazz.graph when present, else the in-repo planted
    fixture."""
    return parse_dimacs(PARITY_GRAPH)


@pytest.fixture(scope="session")
def jazz_adj(jazz):
    n, s, d, w = jazz
    return Adjacency.from_entries(n, s, d, w)


@pytest.fixture(scope="session")
def jazz_df(spark, jazz):
    n, s, d, w = jazz
    df = edges_df(spark, n, s, d, w).persist()
    df.count()
    return df


def edges_df(spark, n, src, dst, w):
    """Adjacency entries -> Spark edges DataFrame (src, dst, weight)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "src": np.asarray(src, dtype=np.int64),
            "dst": np.asarray(dst, dtype=np.int64),
            "weight": np.asarray(w, dtype=np.int64),
        }
    )
    return spark.createDataFrame(pdf)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: separate-JVM / long-running end-to-end tests"
    )
