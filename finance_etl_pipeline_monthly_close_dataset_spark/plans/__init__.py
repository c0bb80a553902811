from .transforms import (
    MissingFxRatesError,
    add_fx_amount_base,
    fx_to_base,
    kpi_monthly,
    to_fact_transactions,
)

__all__ = [
    "MissingFxRatesError",
    "add_fx_amount_base",
    "fx_to_base",
    "kpi_monthly",
    "to_fact_transactions",
]
