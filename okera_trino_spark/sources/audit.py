"""Engine-level audit: a QueryExecutionListener that sees EVERY execution.

The reference audits at the event-listener level (OkeraEventListener.java:
26-67) — every query that runs through the engine produces an audit
record with id, user, timing, and success/error, regardless of which API
submitted it. Round 1 audited only the SQL path routed through
``GovernedCatalog.execute``; DataFrame-API queries bypassed the log.

This module closes that gap the Spark-native way: a JVM
``org.apache.spark.sql.util.QueryExecutionListener`` implemented as a
py4j callback object and registered on the session's listener manager.
Spark invokes it after every successful/failed DataFrame action
(count/collect/save/...), including ones that never touched
``GovernedCatalog``.

Listener callbacks are delivered asynchronously from the listener bus —
consumers (tests) poll briefly rather than assuming synchronous append.

A session made by ``newSession()`` does not share its parent's
listeners, so ``GovernedCatalog`` installs one per principal session,
attributed to that principal and appending to the parent's log.
"""

from __future__ import annotations

import atexit
import itertools
import time
from dataclasses import dataclass
from weakref import WeakKeyDictionary

from pyspark.sql import SparkSession


@dataclass
class ExecutionRecord:
    """One engine-level execution event (OkeraEventListener.java field
    set: query id, user, action, plan description, timing, outcome)."""
    query_id: int
    user: str
    action: str          # the DataFrame action name (count, collect, ...)
    plan: str            # first line of the optimized logical plan
    start_time: float
    elapsed_ms: float
    success: bool
    error: str | None = None


#: session -> list[ExecutionRecord]; dies with the session.
_SESSION_LOGS: WeakKeyDictionary = WeakKeyDictionary()
#: session -> listener; the weak session key lets entries (and their
#: pinned records) die with the session, while the value keeps the py4j
#: callback object alive for exactly that lifetime.
_LISTENERS: WeakKeyDictionary = WeakKeyDictionary()
_ATEXIT_INSTALLED = False
#: Execution record ids, unique across every listener (several append
#: to one log).
_EXECUTION_IDS = itertools.count()


def set_audit_user(spark: SparkSession, user: str) -> None:
    """Identity attributed to subsequent DataFrame-API executions (the
    reference resolves this from the authenticated session; here identity
    is an input, per SURVEY §4.1 auth scoping)."""
    listener = _LISTENERS.get(spark)
    if listener is not None:
        listener._user = user


def execution_log(spark: SparkSession) -> list[ExecutionRecord]:
    return list(_SESSION_LOGS.get(spark, []))


class _QueryExecutionListener:
    """py4j callback implementing QueryExecutionListener."""

    class Java:  # noqa: D106 — py4j protocol marker
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, records: list[ExecutionRecord], user: str) -> None:
        self._records = records
        self._user = user

    def _plan_summary(self, qe) -> str:
        # simpleString(25) renders ONE line for the root node — the same
        # first line toString() yields, without stringifying the whole
        # tree. The listener bus delivers asynchronously, so a full-tree
        # render here (O(plan size), tens of ms on the big TPC-H /
        # dedup plans) steals JVM+py4j cycles from the NEXT query in a
        # back-to-back session (r15, guide §5: the driver should do
        # almost no work per event).
        try:
            return qe.optimizedPlan().simpleString(25)[:200]
        except Exception:  # noqa: BLE001 — audit must never break a query
            return "<unavailable>"

    def onSuccess(self, funcName, qe, durationNs) -> None:
        elapsed = durationNs / 1e6
        self._records.append(ExecutionRecord(
            query_id=next(_EXECUTION_IDS), user=self._user,
            action=str(funcName), plan=self._plan_summary(qe),
            start_time=time.time() - elapsed / 1000.0,
            elapsed_ms=elapsed, success=True))

    def onFailure(self, funcName, qe, exception) -> None:
        try:
            msg = str(exception.getMessage())
        except Exception:  # noqa: BLE001
            msg = str(exception)
        # Don't touch qe's plans here: a query that failed ANALYSIS has no
        # optimized plan, and asking for one logs a JVM error per event.
        self._records.append(ExecutionRecord(
            query_id=next(_EXECUTION_IDS), user=self._user,
            action=str(funcName), plan="<failed>",
            start_time=time.time(), elapsed_ms=0.0,
            success=False, error=msg[:500]))


def install_audit_listener(spark: SparkSession, user: str = "root",
                           log_of: SparkSession | None = None) -> bool:
    """Register the engine-level listener on this session (idempotent),
    attributing its executions to ``user`` and appending them to the
    execution log of ``log_of`` (default: this session's own).

    Returns True if the listener is installed. Requires the py4j callback
    server (same mechanism PySpark's StreamingQueryListener uses); if the
    gateway can't start one (e.g. Spark Connect), audit degrades to the
    SQL-path log in GovernedCatalog and this returns False.
    """
    global _ATEXIT_INSTALLED
    if spark in _LISTENERS:
        return True
    try:
        from pyspark.java_gateway import ensure_callback_server_started
        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        records = _SESSION_LOGS.setdefault(
            spark if log_of is None else log_of, [])
        listener = _QueryExecutionListener(records, user)
        spark._jsparkSession.listenerManager().register(listener)
        _SESSION_LOGS[spark] = records
        _LISTENERS[spark] = listener
        # Unregister at interpreter exit: the JVM's async listener bus
        # outlives the py4j callback server during Python teardown, and a
        # post-teardown onSuccess callback logs a JVM-side
        # Py4JNetworkException per event. ONE process-wide hook walking
        # the weak dict — registering per session would pin every session
        # object in atexit's argument list and defeat the weak keying.
        if not _ATEXIT_INSTALLED:
            atexit.register(_unregister_all)
            _ATEXIT_INSTALLED = True
        return True
    except Exception:  # noqa: BLE001 — audit is best-effort on exotic backends
        return False


def _unregister_all() -> None:
    for spark in list(_LISTENERS.keys()):
        listener = _LISTENERS.pop(spark, None)
        if listener is None:
            continue
        try:
            if spark.sparkContext._jsc is not None:  # session still alive
                spark._jsparkSession.listenerManager().unregister(listener)
        except Exception:  # noqa: BLE001 — exit path must never raise
            pass
