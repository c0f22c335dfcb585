"""Subscription configuration — the engine's registration API surface.

Mirrors the 15 parameters of create_event_trigger
(cdc_webhook--1.0.sql:116-132) and its 8 validation rules (:145-182),
raising ValueError where the reference RAISEs EXCEPTION (verified against
tests/test_invalid_trigger_parameters.py:10-63).

The reference bakes config into generated plpgsql source
(cdc_webhook--1.0.sql:215-352); here a validated frozen dataclass is
captured by the streaming plan closure — Catalyst does the codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field

OPERATIONS = ("INSERT", "UPDATE", "DELETE")
TIMINGS = ("BEFORE", "AFTER")
BACKOFFS = ("LINEAR", "EXPONENTIAL")
SECURITIES = ("NONE", "PRIVATE")
MODES = ("SYNC", "ASYNC")


@dataclass(frozen=True)
class SubscriptionConfig:
    name: str
    table_name: str
    webhook_url: str
    schema_name: str = "public"
    operations: tuple[str, ...] = OPERATIONS
    headers: dict[str, str] = field(default_factory=dict)
    # empty tracked set => suppress ALL update events (README.md:119-122)
    update_columns: tuple[str, ...] = ()
    timeout: int = 10
    cancel_on_failure: bool = False
    trigger_timing: str = "AFTER"
    retry_number: int = 3
    retry_interval: int = 1
    retry_backoff: str = "LINEAR"
    security: str = "NONE"
    mode: str = "SYNC"

    def __post_init__(self) -> None:
        # validation order and messages follow cdc_webhook--1.0.sql:145-182
        if self.trigger_timing not in TIMINGS:
            raise ValueError(
                f"Invalid trigger timing: {self.trigger_timing}. Must be BEFORE or AFTER"
            )
        if self.retry_backoff not in BACKOFFS:
            raise ValueError(
                f"Invalid retry backoff: {self.retry_backoff}. Must be LINEAR or EXPONENTIAL"
            )
        if self.security not in SECURITIES:
            raise ValueError(
                f"Invalid security: {self.security}. Must be NONE or PRIVATE"
            )
        if self.mode not in MODES:
            raise ValueError(f"Invalid mode: {self.mode}. Must be SYNC or ASYNC")
        if self.mode == "ASYNC" and self.cancel_on_failure:
            # cdc_webhook--1.0.sql:166-168
            raise ValueError("cancel_on_failure cannot be true in ASYNC mode")
        if self.retry_number < 0:
            raise ValueError("Retry number must be non-negative")
        if self.retry_interval <= 0:
            raise ValueError("Retry interval must be positive")
        if not self.operations:
            # cdc_webhook--1.0.sql:180-182 (empty operations array)
            raise ValueError("At least one operation must be specified")
        for op in self.operations:
            if op not in OPERATIONS:
                raise ValueError(
                    f"Invalid operation: {op}. Must be one of INSERT, UPDATE, DELETE"
                )

    @property
    def attempt_budget(self) -> int:
        """Total delivery attempts = retry_number + 1
        (src/cdc_webhook.c:178; asserted tests/test_retries.py:58-62)."""
        return self.retry_number + 1

    def backoff_delay(self, attempt: int) -> int:
        """Delay before retry `attempt` (0-based), seconds: see
        backoff_seconds."""
        return backoff_seconds(self.retry_backoff, self.retry_interval, attempt)


def backoff_seconds(backoff: str, interval: int, attempt: int) -> int:
    """Delay before retry `attempt` (0-based), seconds. LINEAR: constant;
    EXPONENTIAL: interval * 2^attempt via left shift — exactly
    src/cdc_webhook.c:103-109. functions.scalar.backoff_delay is the
    same rule as a Column expression (the queue fold's)."""
    if backoff == "LINEAR":
        return interval
    return interval * (1 << attempt)
