from __future__ import annotations

import os
import sys
import threading
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulfa_sausage_factory_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pulfa-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


#: this package's source dir: a job's label names the innermost frame in it
_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pulfa_sausage_factory_spark", "",
)


def _call_site(method: str) -> str:
    """``<JVM method> at <file>:<line> (<function>)`` for the innermost
    package frame on the calling thread's stack; the thread's name when
    no package frame is on it (a pool thread running a bound method)."""
    f = sys._getframe(2)
    while f is not None:
        code = f.f_code
        if code.co_filename.startswith(_PKG):
            return (f"{method} at {os.path.basename(code.co_filename)}:"
                    f"{f.f_lineno} ({code.co_name})")
        f = f.f_back
    return f"{method} on {threading.current_thread().name}"


@contextmanager
def spark_jobs(spark):
    """Collect every Spark job submitted while the block runs, from any
    thread, out of the driver's status store (as perfbench/sparkstats.py
    reads it): a thread-local job group would miss the jobs of pooled
    writers. Yields a list that is filled at exit with ``(job id,
    label)`` pairs; the label is the package call site of the JVM call
    that submitted the job, set as the thread's ``callSite.short`` for
    the duration of every JVM call the block makes."""
    import json

    from py4j.java_gateway import JavaMember

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(sc._jvm.com.fasterxml.jackson.module.scala,
                    "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        return {j["jobId"]: j["name"] for j in json.loads(
            mapper.writeValueAsString(jsc.statusStore().jobsList(None))
        )}

    before = set(job_ids())
    plain, local = JavaMember.__call__, threading.local()

    def label(site):
        local.busy = True  # the property call itself goes out unlabelled
        try:
            sc.setLocalProperty("callSite.short", site)
        finally:
            local.busy = False

    def labelled(member, *args):
        if getattr(local, "busy", False):
            return plain(member, *args)
        # set for this call only: a label left on the thread would name
        # the jobs the JVM submits from it later on its own (a stream's)
        label(_call_site(member.name))
        try:
            return plain(member, *args)
        finally:
            label(None)

    jobs: list = []
    JavaMember.__call__ = labelled
    try:
        yield jobs
    finally:
        JavaMember.__call__ = plain
        jobs.extend(sorted(
            (j, name) for j, name in job_ids().items() if j not in before
        ))


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), job ids, printable job list)`` for
    every Spark job submitted while ``fn`` runs (``spark_jobs``) — the
    job-count pins print the labelled list when they fail."""

    def count(fn):
        with spark_jobs(spark) as jobs:
            out = fn()
        return out, [j for j, _ in jobs], "\n".join(
            f"job {j}: {name}" for j, name in jobs
        )

    return count
