"""The benchmark's API side: a zero-latency ``Transport`` around the
program's ``FakeHubSpot``, with a seeded failure schedule and Spark
accumulators that count what the remote API saw.

The benchmark measures engine overhead, not remote-API latency, so no
call waits and the injected ``sleeper`` only records the backoff the
writer asked for. The transport and sleeper run inside the writer's
``foreachPartition`` tasks; ``run.py`` registers this module with
cloudpickle by value, so Python workers never import it.
"""

from __future__ import annotations

import hashlib

from reverse_etl_homebrew_spark.sinks.transport import (
    MAX_RETRIES,
    RETRY_STATUSES,
    FakeHubSpot,
)

#: share of write keys answered with one 429 before succeeding
RATE_LIMITED_SHARE = 0.02
#: share of write keys answered with MAX_RETRIES 503s, i.e. exhausted
EXHAUSTED_SHARE = 0.001

COUNTERS = ("requests", "retries", "exhausted")


def failure_schedule(seed: int, job_type: str, write_keys) -> tuple[dict, set]:
    """natural_key -> statuses to return before succeeding, and the set
    of keys that exhaust their retries. Keys are ranked by a seeded
    hash, so the schedule depends on the seed and the key only."""

    def rank(key: str) -> bytes:
        return hashlib.sha256(f"{seed}/{job_type}/{key}".encode()).digest()

    ranked = sorted(write_keys, key=rank)
    n_exhausted = max(1, round(EXHAUSTED_SHARE * len(ranked)))
    n_limited = max(1, round(RATE_LIMITED_SHARE * len(ranked)))
    exhausted = ranked[:n_exhausted]
    limited = ranked[n_exhausted : n_exhausted + n_limited]
    schedule = {k: [503] * MAX_RETRIES for k in exhausted}
    schedule.update({k: [429] for k in limited})
    return schedule, set(exhausted)


class ScheduledHubSpot:
    """``Transport`` over an in-memory ``FakeHubSpot`` that replays the
    failure schedule and counts requests, retries and exhausted keys."""

    def __init__(self, schedule: dict, accs: dict):
        self._hub = FakeHubSpot(fail_statuses={k: list(v) for k, v in schedule.items()})
        self._accs = accs
        self._failures: dict[str, int] = {}

    def _count(self, key: str, status: int) -> None:
        self._accs["requests"].add(1)
        failed_before = self._failures.get(key, 0)
        if failed_before:
            self._accs["retries"].add(1)
        if status in RETRY_STATUSES:
            self._failures[key] = failed_before + 1
            if failed_before + 1 == MAX_RETRIES:
                self._accs["exhausted"].add(1)

    def create(self, object_type, properties):
        status, oid = self._hub.create(object_type, properties)
        self._count(properties["natural_key"], status)
        return status, oid

    def update(self, object_type, object_id, properties):
        status = self._hub.update(object_type, object_id, properties)
        self._count(properties.get("natural_key", object_id), status)
        return status


class TransportFactory:
    """Picklable zero-argument factory, one transport per partition."""

    def __init__(self, schedule: dict, accs: dict):
        self.schedule = schedule
        self.accs = accs

    def __call__(self) -> ScheduledHubSpot:
        return ScheduledHubSpot(self.schedule, self.accs)


class BackoffRecorder:
    """``sleeper`` that adds the requested delay to an accumulator
    instead of sleeping."""

    def __init__(self, acc):
        self.acc = acc

    def __call__(self, seconds: float) -> None:
        self.acc.add(seconds)
