from __future__ import annotations

import contextlib
import itertools
import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pgvecto_rs_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("pgvecto-rs-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_JOB_GROUPS = itertools.count()


class JobCount:
    """Spark jobs launched in one job group; ``n`` reads the status
    tracker, so it is live inside the block and final after it."""

    def __init__(self, sc, group: str):
        self._sc = sc
        self.group = group

    @property
    def n(self) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(self.group))


@contextlib.contextmanager
def count_jobs(spark):
    """Count the Spark jobs the block launches from this thread::

        with count_jobs(spark) as jobs:
            df.collect()
        assert jobs.n <= 2

    The block runs in its own job group; the thread's previous group
    is restored on exit."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_JOB_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield JobCount(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def spy_runner_io(monkeypatch, factory: str, target: str, log: str):
    """Record what the runners ``segment_worker.<factory>`` builds pass
    to ``segment_worker.<target>`` (``_load_unit``,
    ``_read_exact_vecs``), on either block source.  The spied factory
    returns a runner that, in the process running it (the driver or a
    Python worker), wraps ``<target>``, builds the real runner there
    and appends one JSON line per call to the file ``log``: the source
    (a path, or a list of paths) and the column read (``_load_unit``)
    or the number of keys fetched (``_read_exact_vecs``).  Returns a
    function reading the calls as (source, column or n) pairs."""
    import json

    from pgvecto_rs_spark.indexes import segment_worker as SW

    def spied(*args, **kwargs):
        def run(pairs):
            import json

            from pgvecto_rs_spark.indexes import segment_worker as W

            make = getattr(W, factory)
            make = getattr(make, "unspied", make)
            inner = getattr(W, target)

            def wrapped(source, arg, *a, **kw):
                with open(log, "a") as f:
                    f.write(json.dumps([
                        source if isinstance(source, str) else list(source),
                        arg if isinstance(arg, str) else len(arg),
                    ]) + "\n")
                return inner(source, arg, *a, **kw)

            setattr(W, target, wrapped)
            try:
                yield from make(*args, **kwargs)(pairs)
            finally:
                setattr(W, target, inner)

        return run

    spied.unspied = getattr(SW, factory)
    monkeypatch.setattr(SW, factory, spied)

    def calls():
        if not os.path.exists(log):
            return []
        with open(log) as f:
            got = [tuple(json.loads(line)) for line in f]
        os.unlink(log)
        return got

    return calls
