"""Pieces shared by the workloads: the operation record and the
request/pass timer that also opens a bench-level trace span."""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass
class Op:
    kind: str          # request type, job type or "pass"
    cls: str           # "read" or "write"
    seconds: float
    ok: bool
    items: int = 0     # requests, nodes or documents, for throughput
    span: object = None  # the bench span around it (traced runs)


def run_op(tracer, kind: str, cls: str, fn) -> tuple[object, Op]:
    """Call ``fn`` once, timing it; a raised exception fails the operation.
    Returns ``(result or exception, Op)``."""
    span = tracer.open("bench", f"{cls}:{kind}") if tracer else None
    t0 = time.perf_counter()
    try:
        out, ok = fn(), True
    except Exception as e:  # a failed operation is counted, not fatal
        out, ok = e, False
    dt = time.perf_counter() - t0
    if span is not None:
        tracer.close(span)
    return out, Op(kind, cls, dt, ok, span=span)
