"""Spans and counters recorded around calls into the program's layers.

Instrumentation lives in the benchmark, not the program: ``instrument``
replaces public functions of each layer with timing wrappers for one
traced pass and ``restore`` puts the originals back, so untraced passes
run the program unwrapped. Each span
records its name, start, end, parent span and operation id; spans stay
in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        #: [name, start, end, parent index or None, op id]
        self.spans: list[list] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self._quiet = False
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._main:  # listener callbacks
            yield
            return
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def quiet(self):
        """Leave the benchmark's own py4j calls inside an operation (plan
        forcing, job counts) out of the py4j figures."""
        self._quiet = True
        try:
            yield
        finally:
            self._quiet = False

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def count_sends(self, owner) -> None:
        """Count and time the py4j command round trips an operation makes
        on ``owner``'s connections: client thread only (listener callback
        threads overlap it), inside an operation, outside ``quiet``."""
        orig = owner.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(conn, *args, **kwargs):
            if (threading.get_ident() != tracer._main or tracer.op is None
                    or tracer._quiet):
                return orig(conn, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(conn, *args, **kwargs)
            finally:
                tracer.py4j_calls += 1
                tracer.py4j_s += time.perf_counter() - t0

        owner.send_command = send_command
        self._undo.append((owner, "send_command", orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------------ summaries
    def total_s(self, name: str, ops: set[int]) -> float:
        return sum(s[2] - s[1] for s in self.spans
                   if s[0] == name and s[4] in ops)

    def calls(self, name: str, ops: set[int]) -> int:
        return sum(1 for s in self.spans if s[0] == name and s[4] in ops)

    def self_s(self, name: str, ops: set[int]) -> float:
        """Duration of ``name`` spans minus their direct children's."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] = child.get(s[3], 0.0) + (s[2] - s[1])
        return sum((s[2] - s[1]) - child.get(i, 0.0)
                   for i, s in enumerate(self.spans)
                   if s[0] == name and s[4] in ops)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark names."""
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection
    from pyspark.sql import SparkSession

    from okera_trino_spark.functions import trino_sql
    from okera_trino_spark.operators import _util
    from okera_trino_spark.sources import auth, catalog

    tracer.wrap(auth.PasswordAuthenticator, "authenticate", "auth")
    tracer.wrap(catalog.GovernedCatalog, "execute", "catalog.execute")
    tracer.wrap(catalog.GovernedCatalog, "read", "catalog.read")
    # load_table is reached through the catalog module and through the
    # name operators/_util imported at module load.
    tracer.wrap(catalog, "load_table", "catalog.load_table")
    tracer.wrap(_util, "load_table", "catalog.load_table")
    tracer.wrap(trino_sql, "rewrite_trino_sql", "trino_sql.rewrite")
    tracer.wrap(trino_sql, "execute_trino_explain", "trino_sql.explain_probe")
    tracer.wrap(trino_sql, "ensure_dialect_udfs", "trino_sql.udf_register")
    tracer.wrap(SparkSession, "sql", "engine.analyze")
    tracer.count_sends(ClientServerConnection)
    tracer.count_sends(GatewayConnection)
