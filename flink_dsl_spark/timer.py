"""Phase timer (parity: fsql/timer.scala:3-16, used at
fsql/parser.scala:414-423 to time the `parser` and `resolve` phases).
We add the `plan` phase; timings feed bench.py.  ``count_py4j`` counts
the JVM round trips a block of driver code makes, the unit the Python
planner pays for (bench.py and the plan-build tests read it)."""

from __future__ import annotations

import time
from contextlib import contextmanager


class Timer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            ms = (time.perf_counter() - t0) * 1000.0
            self.phases[name] = self.phases.get(name, 0.0) + ms
            if self.enabled:
                print(f"[timer] {name}: {ms:.2f} ms")

    def reset(self):
        self.phases.clear()


@contextmanager
def count_py4j(spark):
    """Collect the py4j commands the driver sends inside the block into
    the yielded list.  Memory commands (``m``: deletes of
    Python-collected JVM references) are skipped because the garbage
    collector times them."""
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith("m"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command
