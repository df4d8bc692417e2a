import sys
from collections import defaultdict
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# tests listed, slowest first, at the end of every run
SLOWEST = 25
# Spark's code generation over the session, read as the session stops
codegen = {}


def pytest_terminal_summary(terminalreporter):
    """The SLOWEST tests by setup + call + teardown time, so growth of
    the suite toward its time cap shows per test. The session-scoped
    Spark start is charged to the first test that asks for it."""
    total = defaultdict(float)
    for reports in terminalreporter.stats.values():
        for rep in reports:
            if getattr(rep, "when", None) in ("setup", "call", "teardown"):
                total[rep.nodeid] += rep.duration
    if not total:
        return
    terminalreporter.write_sep("=", f"slowest {SLOWEST} tests (setup + call + teardown)")
    for nodeid, s in sorted(total.items(), key=lambda kv: -kv[1])[:SLOWEST]:
        terminalreporter.write_line(f"{s:8.2f}s {nodeid}")
    if codegen:
        terminalreporter.write_line(
            f"spark codegen: {codegen['classes']} classes compiled, "
            f"{codegen['ms']:.0f} ms compiling"
        )


@pytest.fixture(scope="session")
def spark():
    from linkgraph.session import get_spark

    s = get_spark(
        "linkgraph-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": "/tmp/lg-test-warehouse",
        },
    )
    yield s
    # CodegenMetrics' compile-time histogram counts the compilations but
    # keeps only a sample of their times; the total is CodeGenerator's
    jvm = s._jvm
    codegen["classes"] = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    )
    codegen["ms"] = (
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6
    )
    s.stop()


@pytest.fixture()
def edges_df(spark):
    """Factory: python edge list → DataFrame[src, dst]."""

    def make(edges):
        return spark.createDataFrame(edges, "src long, dst long")

    return make
