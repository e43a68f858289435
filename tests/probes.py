"""Spark resource probes shared by the tests: the jobs a block runs, the
py4j round trips it makes, the entries in the session's CacheManager and
the session state a query can leave behind."""

from __future__ import annotations

import threading


class Jobs:
    """The Spark jobs a block of code runs, pinned by count: the block
    runs in its own job group between two one-job markers, so the jobs
    between the markers must be exactly the group's.  A count pinned to
    the budget leaves no room for a count() or isEmpty() probe.

    ``ids`` holds the group's job ids, ``executions`` the ids of the SQL
    executions those jobs belong to (one per action)."""

    def __init__(self, spark, name):
        self.spark = spark
        self.sc = spark.sparkContext
        self.name = name

    def _marker(self, name):
        self.sc.setJobGroup(name, name)
        self.sc.parallelize([1], 1).count()

    def __enter__(self):
        self._marker(f"{self.name}-before")
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self._marker(f"{self.name}-after")
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            self.sc.setLocalProperty(key, None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        (before,) = st.getJobIdsForGroup(f"{self.name}-before")
        (after,) = st.getJobIdsForGroup(f"{self.name}-after")
        self.ids = sorted(st.getJobIdsForGroup(self.name))
        # no job between the markers escaped the caller's group
        assert self.ids == list(range(before + 1, after)), (
            before, self.ids, after
        )
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        self.executions = set()
        for i in range(execs.size()):
            ex = execs.apply(i)
            job_ids = ex.jobs().keySet()
            if any(job_ids.contains(j) for j in self.ids):
                self.executions.add(ex.executionId())
        return False


class Py4jCalls:
    """The py4j round trips a block of code makes into the JVM, counted at
    the gateway connections' ``send_command`` on the calling thread.
    py4j sends its object-release notices from a finalizer thread, at
    times of its own; the benchmark's ``operators.py4j_calls`` counts
    them too, this probe does not.  ``n`` holds the count."""

    def __enter__(self):
        from py4j import clientserver, java_gateway

        self.n = 0
        self._patched = []
        thread = threading.get_ident()
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            original = cls.send_command

            def counted(conn, command, *a, _orig=original, **k):
                if threading.get_ident() == thread:
                    self.n += 1
                return _orig(conn, command, *a, **k)

            cls.send_command = counted
            self._patched.append((cls, original))
        return self

    def __exit__(self, *exc):
        for cls, original in self._patched:
            cls.send_command = original
        return False


def cache_entries(spark) -> int:
    """Entries in the session's CacheManager (``cache()``/``persist()``
    frames not yet unpersisted)."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def session_state(spark) -> dict:
    """What a block of code can leave behind in the caller's session:
    CacheManager entries, temp view names and active streaming queries."""
    return {
        "cache entries": cache_entries(spark),
        "temp views": sorted(
            t.name for t in spark.catalog.listTables() if t.isTemporary
        ),
        "active streams": sorted(str(q.id) for q in spark.streams.active),
    }
