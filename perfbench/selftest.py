"""Self-tests of the benchmark's own helpers.

    python3 perfbench/selftest.py            # or: python3 -m pytest perfbench/selftest.py

The digest test starts a local Spark session (about 10 s).
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from common import HostSpeed, graph_digest, percentile, stop_spark  # noqa: E402


def test_percentile_refuses_thin_tail():
    values = [float(i) for i in range(99)]
    try:
        percentile(values, 90)
    except ValueError:
        pass
    else:
        raise AssertionError("p90 of 99 samples must be refused")
    assert percentile(values + [99.0], 90) == 89.1
    assert percentile(values[:20], 50) == 9.5


def test_host_speed_averages_the_window():
    speed = HostSpeed()
    speed.samples = [(0.0, 0.02), (1.0, 0.03), (5.0, 0.5)]
    assert abs(speed.slowdown(0.0, 1.0, margin=0) - 0.025 / HostSpeed.REF_S) < 1e-9
    assert abs(speed.cpu_s(0.0, 1.0) - 0.05) < 1e-12
    try:
        speed.slowdown(3.0, 4.0, margin=0)
    except RuntimeError:
        pass
    else:
        raise AssertionError("a window with fewer than two samples must be refused")


def test_py4j_counter_skips_memory_and_own_commands():
    from common import Tracer
    from tracing import Py4jCounter, _NullClient, uncounted

    counter = Py4jCounter(_NullClient(), Tracer())
    counter._client.send_command("c\no1\ntoJSON\ne\n")
    counter._client.send_command("m\nd\no1\ne\n")
    with uncounted():
        counter._client.send_command("c\no1\ngetClass\ne\n")
    assert counter.main_calls == 1
    assert "catalyst.to_json_ms" in counter.tracer.counters
    counter.close()


def test_digest_ignores_random_ids():
    from spark_sql_flow_plugin_spark.api import extract
    from spark_sql_flow_plugin_spark.session import get_session

    spark = get_session("perfbench-selftest", cpus=2)
    try:
        df = spark.range(10).selectExpr("id", "id * 2 AS twice").groupBy(
            "twice"
        ).agg({"id": "max"})
        first, second = extract(df), extract(df)
        ids = lambda g: {n.unique_id for n in g[0]}  # noqa: E731
        assert ids(first) != ids(second), "extractions should draw fresh ids"
        assert graph_digest(*first) == graph_digest(*second)
        other = extract(spark.range(10).selectExpr("id + 1 AS id"))
        assert graph_digest(*other) != graph_digest(*first)
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
