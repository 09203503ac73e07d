import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from earth_data_kit_spark.session import get_spark

    s = get_spark(app_name="edk-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


def sql_executions(spark, after: int = -1) -> list:
    """The session's SQL executions with an id above ``after``, read
    from the SQL status store (works with the UI off)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [e for e in (execs.apply(i) for i in range(execs.size())) if e.executionId() > after]


def last_execution_id(spark) -> int:
    return max((e.executionId() for e in sql_executions(spark)), default=-1)


def final_plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(operator, detail block) per node of an execution's final
    physical plan.  A formatted adaptive plan lists the nodes of its
    initial plan too (with the same UDF calls); only the ids in the
    '== Final Plan ==' tree ran."""
    nodes = {
        int(m.group(1)): (m.group(2), block)
        for block in plan.split("\n\n")
        if (m := re.match(r"\((\d+)\) (\w+)", block.strip()))
    }
    if "== Final Plan ==" in plan:
        tree = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        ran = {int(i) for i in re.findall(r"\((\d+)\)", tree)}
        return [node for i, node in nodes.items() if i in ran]
    return list(nodes.values())
