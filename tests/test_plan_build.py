"""Plan-build gates: compiling an FSQL statement to an executed plan is
driver-side work only.

Building a plan must launch no Spark job (every data pass belongs to the
query that runs it, not to its compilation), and must stay cheap in
py4j round trips, the unit the Python planner pays for.
"""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries(spark):
    # the engine's load_dir runs jobs (parquet footers, schema checks):
    # build it before any job group is watched
    entry._engine(spark, SF)
    return entry.queries()


def test_fsql_plan_build_launches_no_job(spark, queries):
    """Each of the FSQL catalog statements, built to its executed plan
    under its own job group, launches 0 jobs."""
    sc = spark.sparkContext
    launched = {}
    try:
        for i, name in enumerate(entry._FSQL):
            group = f"plan-build-{i}"
            sc.setJobGroup(group, name)
            queries[name](spark, SF)._jdf.queryExecution().executedPlan()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            if jobs:
                launched[name] = len(jobs)
    finally:
        sc._jsc.clearJobGroup()
    assert launched == {}, f"plan build ran jobs: {launched}"


def test_session_skips_call_site_capture(spark, queries):
    """``get_session`` turns off PySpark's per-Column call-site capture
    (five JVM calls per Column function), so a warm rebuild of q01
    stays within 300 py4j commands; with the capture on it takes about
    800.  Memory commands (``m``: deletes of Python-collected JVM
    references) are skipped because the garbage collector times them."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    build = queries["q01_pricing_summary"]
    build(spark, SF)._jdf.queryExecution().executedPlan()     # warm
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith("m"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build(spark, SF)._jdf.queryExecution().executedPlan()
    finally:
        del client.send_command
    assert len(sent) <= 300, f"{len(sent)} py4j commands"
