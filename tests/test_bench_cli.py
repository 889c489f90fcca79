"""bench.py's pure pieces, checked without a Spark session: the N -> 4N
executor shape, one scaling leg's spark-submit command, and the headline
query list against the entry's registry."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize("cpus", [4, 16, 32])
def test_executor_shape_fills_without_oversubscribing(cpus):
    c = bench.executor_cores(cpus)
    assert c >= 1
    assert 4 * c <= cpus


@pytest.mark.parametrize("cpus", [0, 1, 3])
def test_executor_shape_refused_below_four_cores(cpus):
    with pytest.raises(SystemExit, match="at least 4 cores"):
        bench.executor_cores(cpus)


def test_leg_master_carries_the_shape():
    assert bench.leg_master(1, 1) == "local-cluster[1,1,6144]"
    assert bench.leg_master(4, 8) == "local-cluster[4,8,6144]"


def test_submit_command_forwards_master_and_ships_the_zip():
    master = bench.leg_master(4, 1)
    cmd = bench.submit_command(
        "spark-submit", master, "/w/pdfparse_spark.zip", "submit_extract.py",
        "/c/corpus", "/w/out",
    )
    assert cmd[0] == "spark-submit"
    # once for spark-submit, once forwarded into the app
    assert [cmd[i + 1] for i, a in enumerate(cmd) if a == "--master"] == [master, master]
    assert cmd[cmd.index("--py-files") + 1] == "/w/pdfparse_spark.zip"
    # spark-submit options come before the script, app options after it
    assert cmd.index("--py-files") < cmd.index("submit_extract.py") < cmd.index("--input")
    assert "--warmup" in cmd
    assert cmd[cmd.index("--partitions") + 1] == "128"


def test_bench_queries_are_registered_in_query_order():
    import __spark_entry__ as e

    missing = [q for q in bench.BENCH_QUERIES if q not in e.QUERY_ORDER]
    assert not missing
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
