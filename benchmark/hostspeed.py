"""The host's speed, sampled between operations.

The benchmark runs on a few cores of a shared host whose speed drifts
with its neighbours' load. On a 4-core VM a fixed pure-Python loop,
timed once a second for 40 s, took between 1.2 and 2.0 ms per 10,000
iterations with no steal time reported; a py4j call to
``System.nanoTime`` took 1.3 ms in quiet stretches and over 4 ms in
busy ones, and whole runs of a workload ran up to 1.7 times slower in
busy stretches than in quiet ones.

:func:`sample` times a fixed reference operation made of the two parts
every engine call is made of: Python work (a pure-Python loop) and py4j
round trips between Python and the JVM, each of which waits for the
other side to be scheduled. Neither touches the engine, so no change to
the engine can move it directly. It runs only between operations, while the
engine is idle, so that it sees the host's load and not the engine's
own. :func:`corrected` scales an operation's time by the reference
operation's time on a quiet host over its time around the operation:
the time the operation would have taken on the quiet host.

Each workload's reference operation has its own number of round trips,
chosen from logged runs on a 4-core VM (0 to 32 tried): a REST call
waits on more round trips per unit of time than a batch query does.
On busy runs 8 and 16 round trips left recon_serve equally steady,
and on less busy ones 16 over-corrected, so it uses 8; batch_analytics
was steadiest with 4. With the loop alone, runs spread as much as
uncorrected.
"""

from __future__ import annotations

import time

KERNEL_N = 100_000
SERVE_ROUND_TRIPS = 8
BATCH_ROUND_TRIPS = 4
# the two parts' typical times on a quiet stretch of the 4-core VM the
# benchmark was defined on; they fix the scale of the corrected times,
# not their spread
LOOP_REF_MS = 8.5
ROUND_TRIP_REF_MS = 1.3
REPS = 2


def ref_ms(round_trips: int) -> float:
    """The reference operation's time on the quiet host, in ms."""
    return LOOP_REF_MS + round_trips * ROUND_TRIP_REF_MS


def kernel_ms(jvm, round_trips: int) -> float:
    """Wall time of the reference operation, in ms."""
    t0 = time.perf_counter()
    s = 0
    for j in range(KERNEL_N):
        s += j * j
    for _ in range(round_trips):
        jvm.java.lang.System.nanoTime()
    return (time.perf_counter() - t0) * 1000.0


def sample(jvm, round_trips: int) -> float:
    """The reference operation's time now: the lower of ``REPS`` runs,
    in ms."""
    return min(kernel_ms(jvm, round_trips) for _ in range(REPS))


def corrected(times_ms: list[float], before: float, after: float,
              round_trips: int) -> list[float]:
    """``times_ms``, measured between the samples ``before`` and
    ``after``, at the quiet host's speed."""
    factor = 2 * ref_ms(round_trips) / (before + after)
    return [t * factor for t in times_ms]
