"""Engine settings.

Mirrors the reference's pydantic ``Settings``
(``/root/reference/src/finance_etl/config.py:8-16``) without the
pydantic dependency -- a frozen dataclass is enough and keeps the
engine dependency-light.  The data directories are not settings here:
``run_month`` and the CLI take them as arguments.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Settings:
    base_currency: str = "USD"
    allowed_currencies: tuple[str, ...] = ("USD", "TZS", "EUR")
