"""Timed operations and their output checks.

An operation is one call into the program plus the action that materializes
its result. Only that interval is timed; the output check that follows runs
outside it. Every operation counts as attempted, and as failed when it
raised or its check did not hold.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import time
import traceback


def materialize(df) -> None:
    """Run the whole plan into the ``noop`` sink: no driver collect."""
    df.write.mode("overwrite").format("noop").save()


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha256(bytes(v)).hexdigest()[:16]
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def fingerprint_rows(rows) -> dict:
    """Row count and an order-insensitive digest; floats compare to nine
    significant digits, so a change of summation order does not count."""
    lines = sorted(repr(_norm(tuple(r))) for r in rows)
    return {"rows": len(lines),
            "digest": hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]}


def fingerprint(df) -> dict:
    return fingerprint_rows(df.collect())


class Recorder:
    """Runs operations in order and keeps their walls and check results."""

    def __init__(self, corrupt: str | None = None, quiet=contextlib.nullcontext):
        self.ops: list[dict] = []
        self.pass_no = 0  # set by the caller; kept with every operation
        self.corrupt = corrupt  # self-test hook: this op's output in pass 1 is altered
        self.quiet = quiet  # context the checks run in (see Tracer.quiet)

    def run(self, name: str, kind: str, fn, check=None) -> object:
        """Time ``fn()``; then, untimed, ``check(result)`` returns an output
        fingerprint (a dict) that is compared by ``verify``."""
        op = {"pass": self.pass_no, "name": name, "kind": kind, "ok": True, "error": None}
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            op.update(wall_s=time.perf_counter() - t0, ok=False,
                      error=traceback.format_exc(limit=3))
            self.ops.append(op)
            return None
        op["wall_s"] = time.perf_counter() - t0
        if check is not None:
            try:
                with self.quiet():
                    out = check(result)
                if name == self.corrupt and self.pass_no == 1:
                    out = {k: "corrupted" for k in out}
                op["output"] = out
            except Exception:
                op.update(ok=False, error=traceback.format_exc(limit=3))
        self.ops.append(op)
        return result

    def verify(self, expected: dict) -> None:
        """Fail every operation whose output differs from ``expected[name]``
        (a missing expectation is not a failure; see ``run.py``)."""
        for op in self.ops:
            want = expected.get(op["name"])
            got = op.get("output")
            if op["ok"] and want is not None and got is not None:
                diff = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
                if diff:
                    op["ok"] = False
                    op["error"] = f"output differs (got, expected): {diff}"
