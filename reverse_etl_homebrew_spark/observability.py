"""Alert routing (SURVEY.md §2.2 `slack-alert`).

The reference posts Slack alerts fire-and-forget (main.py:258-274).
Here alert rows are a DataFrame branch; posting is a driver-side
action behind an injectable sink (tests capture, prod posts to a
webhook). Structured logging and secret reads stay outside the engine
(SURVEY.md §2.2 `structured-log`, §2.1 `secret-read`); the reference's
PHI redaction is the ``phi-redact`` key (``functions.scalars.phi_redact``).
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame, functions as F


class AlertSink:
    """Injectable alert transport: prod posts to a webhook with a
    short timeout and swallows failures (fire-and-forget,
    main.py:258-274); tests capture in memory."""

    def __init__(self, poster: Optional[Callable[[str], None]] = None):
        self.poster = poster
        self.sent: List[str] = []

    def post(self, text: str) -> None:
        self.sent.append(text)
        if self.poster:
            try:
                self.poster(text)
            except Exception:
                pass  # alerts must never fail the run (main.py:272-274)


def collect_alerts(dlq_rows: DataFrame, sink: AlertSink, threshold: int = 5) -> int:
    """Route quarantined keys that crossed the attempt threshold
    (main.py:714-727, 748-773; README.md:78) to the alert sink, at
    most 100 per run. The frame side is a filter; only the alert texts
    are collected."""
    rows = (
        dlq_rows.filter(F.col("attempt") >= threshold)
        .select("job_type", "natural_key", "attempt", "error")
        .limit(100)
        .collect()
    )
    for r in rows:
        sink.post(
            f"[{r['job_type']}] record {r['natural_key']} failed "
            f"{r['attempt']} times: {r['error'][:200]}"
        )
    return len(rows)

