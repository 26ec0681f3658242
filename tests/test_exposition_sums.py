"""The `--batch` exposition is a pure function of the log: its histogram
`_sum` samples do not depend on how Spark partitions the rows."""

from __future__ import annotations

import argparse
from datetime import timedelta

from prometheus_clickhouselog_exporter_spark.__main__ import _run_batch
from prometheus_clickhouselog_exporter_spark.sources.fixtures import (
    T0,
    FixtureLog,
    initial_line,
    memory_line,
    stats_line,
)

_SQLS = (
    "SELECT 1", "INSERT INTO t VALUES (1)", "UPDATE t SET a = 1", "DELETE FROM t", "OPTIMIZE TABLE t"
)


def _log(path: str, n: int = 3000) -> str:
    # µs-resolution elapsed values whose double sums round differently
    # in different association orders
    log = FixtureLog()
    for i in range(n):
        qid, t = f"q-{i}", T0 + timedelta(milliseconds=37 * i)
        log.lines.append(initial_line(t, 100, qid, "10.0.0.1", 9000, _SQLS[i % len(_SQLS)]))
        log.lines.append(
            stats_line(t, 100, qid, 1 + i * 7919 % 100_003, "1.25 MiB", 0.1, 3 + i % 977, "3.50 KiB")
        )
        elapsed = timedelta(microseconds=1 + i * 104_729 % 2_999_999)
        log.lines.append(memory_line(t + elapsed, 100, qid, "4.00 MiB"))
    return log.write(path)


def test_batch_exposition_is_independent_of_shuffle_partitions(spark, tmp_path, capsys):
    path = _log(str(tmp_path / "clickhouse-server.log"))
    args = argparse.Namespace(logpath=path, sink_path=None)
    conf = spark.conf
    saved = {k: conf.get(k) for k in ("spark.sql.shuffle.partitions",
                                      "spark.sql.adaptive.coalescePartitions.enabled")}
    outs = {}
    try:
        # no coalescing: each run aggregates over exactly n partitions
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for n in (1, 4, 32):
            conf.set("spark.sql.shuffle.partitions", str(n))
            assert _run_batch(spark, args) == 0
            outs[n] = capsys.readouterr().out
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    assert 'clickhouse_query_time_count{type="select"} 600\n' in outs[1]
    assert outs[4] == outs[1] and outs[32] == outs[1]
