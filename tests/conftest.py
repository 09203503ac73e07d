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


def _active_spark():
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return None if spark is None or spark.sparkContext._jsc is None else spark


def _persistent_rdd_ids(spark) -> set[int]:
    # ids only: a py4j handle held across a test would pin the RDD and
    # keep the context cleaner from releasing it
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _cache_buffer_ids(spark) -> set[int]:
    """RDD ids of the loaded in-memory buffers of the cached frames."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    ids = set()
    for i in range(entries.size()):
        builder = entries.apply(i).cachedRepresentation().cacheBuilder()
        if builder.isCachedColumnBuffersLoaded():
            ids.add(builder.cachedColumnBuffers().id())
    return ids


@pytest.fixture(autouse=True)
def no_leaked_caches():
    """Fail a test that leaves a cache-manager entry or a persistent
    RDD behind.  The caller-owned caches allowed: those a fixture made
    before the test (and their buffers, loaded during it), and local
    checkpoints, the eager operators' documented results, owned by the
    frame they return."""
    spark = _active_spark()
    if spark is not None:
        entries = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
        rdd_ids = _persistent_rdd_ids(spark)
    yield
    if spark is None or _active_spark() is None:
        return
    added = spark._jsparkSession.sharedState().cacheManager().numCachedEntries() - entries
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    new = _persistent_rdd_ids(spark) - rdd_ids - _cache_buffer_ids(spark)
    leaked = [
        f"{i} {persistent.get(i).rdd().getClass().getSimpleName()}"
        for i in sorted(new)
        if not persistent.get(i).rdd().isCheckpointed()
    ]
    assert added <= 0 and not leaked, (
        f"test left {added} cache-manager entries and persistent RDDs {leaked}"
    )


@pytest.fixture(scope="module", autouse=True)
def no_module_caches():
    """Fail a module that ends with cache-manager entries still
    present: a module fixture that caches a frame releases it at its
    teardown, which runs before this check."""
    yield
    spark = _active_spark()
    if spark is None:
        return
    n = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    assert n == 0, f"module left {n} cache-manager entries"


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


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow")


def crash_after_even_keys(monkeypatch, target: str) -> None:
    """Replace ``lineage.commit_stage`` (a module attribute, called
    positionally by the stage runner) with a wrapper under which stage
    ``target`` commits only its even keys and then raises: a crash in
    the middle of a stage's write."""
    from pyspark.sql import functions as F

    from earth_data_kit_spark.plans import lineage

    commit = lineage.commit_stage

    def crashing(df, base_dir, job_id, stage, part_key, lineage_cols=None):
        if stage != target:
            return commit(df, base_dir, job_id, stage, part_key, lineage_cols)
        commit(df.where(F.col(part_key) % 2 == 0), base_dir, job_id, stage, part_key, lineage_cols)
        raise RuntimeError(f"crash in {stage}")

    monkeypatch.setattr(lineage, "commit_stage", crashing)


def latest_lineage(spark, base: str) -> dict:
    """(stage, part_key) → (row_count, checksum) of its latest commit."""
    rows = sorted(spark.read.parquet(f"{base}/lineage").collect(), key=lambda r: r.committed_at)
    return {(r.stage, r.part_key): (r.row_count, r.checksum) for r in rows}
