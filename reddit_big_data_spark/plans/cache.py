"""Release paths for what a query acquires on the driver:
localCheckpoint blocks and overlap threads.

The session cache contract (tests/test_cache_ledger.py) is that
``spark.catalog.clearCache()`` between queries reclaims every
operator-internal ``persist()``. What clearCache CANNOT reach are
``localCheckpoint()`` blocks: they are owned by the ContextCleaner,
which only unpersists them after the JVM garbage-collects the plan that
holds them — and a long-lived driver (py4j keeps object handles alive
until Python finalizers run; the status store keeps recent executions
warm) can keep them pinned indefinitely. At bench scale they are small
(prefix rows, edge lists, scalar probes), but in a long 100 TB session
they would accumulate.

``release_local_checkpoints(spark)`` closes the loop: it walks the
context's persistent-RDD map and explicitly unpersists every block the
RDD API itself reports as a local checkpoint. Call it ONLY at a
query boundary — after every consumer of the current query's frames has
run its action — because a released checkpoint cannot be recomputed
(localCheckpoint truncates lineage by design). bench.py and the test
suite's between-query mop-up both call it right after clearCache.

``overlap(background, foreground)`` is the one way a query runs two
independent pieces of driver work at once: DataFrame construction is
often a chain of driver barriers (collects, counts, checkpoints) with
idle executors between them, and an independent job forced on a second
driver thread fills that idle time. Its thread is joined on every path,
so a caller that cleans up after a failed ``foreground`` never races a
job that is still filling the frame it is about to release.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.util import inheritable_thread_target


def release_local_checkpoints(spark, blocking: bool = False) -> list[int]:
    """Unpersist every ContextCleaner-owned localCheckpoint block.

    Identification uses the JVM RDD API directly —
    ``RDD.isLocallyCheckpointed`` (Scala ``private[rdd]`` compiles to a
    public JVM method, so py4j reaches it; it reads the authoritative
    ``checkpointData`` match, ADVICE r7: the previous toDebugString()
    first-line substring match was a render-format heuristic that a
    Spark upgrade could silently stop matching, re-leaking blocks) — so
    a block is released iff Spark itself classifies it as a local
    checkpoint.

    Returns the released RDD ids. Safe ONLY between queries: any plan
    still holding one of these frames loses its data irrecoverably
    (lineage was truncated at checkpoint time) — see the fixture-hazard
    note on tests/conftest.py's between-test mop-up."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released: list[int] = []
    for rid in list(jmap.keySet().toArray()):
        jrdd = jmap[rid]
        if jrdd.rdd().isLocallyCheckpointed():
            jrdd.unpersist(blocking)
            released.append(int(rid))
    return released


def overlap(background, foreground):
    """Run ``background()`` on a driver thread while ``foreground()`` runs
    on this one; return ``(background(), foreground())``.

    The thread inherits this thread's job properties (job group, tags,
    scheduler pool). If ``foreground`` raises, its error propagates only
    after ``background`` has finished and the thread has exited;
    ``background``'s own error, if any, is then dropped."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(inheritable_thread_target(background))
        fg = foreground()
        return fut.result(), fg
