"""Serialized session-conf scoping for iterative loops.

Several operators scope ``spark.sql.shuffle.partitions`` (and the BPE
loop also AQE) around their driver loops and restore the old value in
a ``finally``. Session confs are SESSION-wide, so two such operators
running on concurrent driver threads (the corpus pipeline's
stage-overlap pool, guide §2.6; any user thread pool) would race:
one thread's scoped width re-plans the other thread's stages
nondeterministically.

``scoped_session_confs`` is the shared set/restore pattern plus a
process-wide reentrant lock: concurrent scopers SERIALIZE (the second
blocks until the first restores), nested scoping on one thread is
fine (RLock), and operators that don't scope confs are unaffected.
The lock is held for the duration of the loop — that is the point:
a conf-scoped loop's plans must not interleave with another scoper.

Reentrancy note: an outer scope that sets a conf and an inner scope
that sets it again compose correctly — each restores what IT saw.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

_CONF_LOCK = threading.RLock()


def acquire_scoped_conf(spark: SparkSession, key: str, value) -> str:
    """Take the global conf-scope lock, set ``key`` to ``value``, and
    return the previous value. Pair with ``release_scoped_conf`` in a
    ``finally`` (the paired call releases the lock). Operators whose
    loop bodies can't be a ``with`` block use this split form; the
    semantics are identical to ``scoped_session_confs`` with one key."""
    _CONF_LOCK.acquire()
    old = spark.conf.get(key)
    spark.conf.set(key, str(value))
    return old


def release_scoped_conf(
    spark: SparkSession, key: str, saved: str | None
) -> None:
    """Restore ``key`` to ``saved`` and release the conf-scope lock;
    a ``None`` saved value means the matching acquire never ran (the
    operator's override was off) and this is a no-op."""
    if saved is None:
        return
    spark.conf.set(key, saved)
    _CONF_LOCK.release()


@contextmanager
def scoped_session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the duration of the block, restoring the
    previous values after; concurrent scopers serialize on a global
    reentrant lock. ``confs`` values are applied as strings; a ``None``
    value leaves that conf alone (a loop's unresolved override), and
    nothing left to set degrades to a no-op (no lock taken)."""
    confs = {k: v for k, v in confs.items() if v is not None}
    if not confs:
        yield
        return
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, str(v))
        try:
            yield
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
