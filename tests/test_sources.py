"""Source readers: distributed DIMACS loader vs the oracle parser."""

import numpy as np

from comm_detect_spark.oracle.graphs import parse_dimacs
from comm_detect_spark.sources.dimacs import read_dimacs
from tests.conftest import PARITY_GRAPH


class TestDimacs:
    def test_jazz_matches_oracle_parser(self, spark):
        got = read_dimacs(spark, PARITY_GRAPH)
        rows = sorted((r["src"], r["dst"], r["weight"]) for r in got.collect())
        n, s, d, w = parse_dimacs(PARITY_GRAPH)
        want = sorted(zip(s.tolist(), d.tolist(), w.tolist()))
        assert rows == want

    def test_weighted_format(self, spark, tmp_path):
        # 3 nodes, weighted: node1 -(5)- node2, node2 -(7)- node3
        p = tmp_path / "w.graph"
        p.write_text("3 2 1\n2 5\n1 5 3 7\n2 7\n")
        got = sorted(
            (r["src"], r["dst"], r["weight"])
            for r in read_dimacs(spark, str(p)).collect()
        )
        assert got == [(0, 1, 5), (1, 0, 5), (1, 2, 7), (2, 1, 7)]

    def test_unweighted_isolated_node(self, spark, tmp_path):
        # node 2 isolated (empty line)
        p = tmp_path / "u.graph"
        p.write_text("3 1 0\n2\n1\n\n")
        got = sorted(
            (r["src"], r["dst"], r["weight"])
            for r in read_dimacs(spark, str(p)).collect()
        )
        assert got == [(0, 1, 1), (1, 0, 1)]

    def test_multi_partition_read_deterministic(self, spark):
        # line numbering must not depend on split layout (the reader uses
        # zipWithIndex, never monotonically_increasing_id ordering)
        single = sorted(
            (r["src"], r["dst"], r["weight"])
            for r in read_dimacs(spark, PARITY_GRAPH).collect()
        )
        multi = sorted(
            (r["src"], r["dst"], r["weight"])
            for r in read_dimacs(spark, PARITY_GRAPH, min_partitions=8).collect()
        )
        assert multi == single
