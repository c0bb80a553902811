"""Time one engine set-up in a fresh interpreter and print the seconds.

    python3 perfbench/setup_sample.py '<spark conf as JSON>'

Set-up is the engine's imports plus ``get_spark``; ``run.py`` starts
this a few times after its own work to report a median set-up time.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.sparkproc import stop_spark  # noqa: E402

T_START = time.perf_counter()
from finance_etl_pipeline_monthly_close_dataset_spark.session import get_spark  # noqa: E402

spark = get_spark(extra_conf=json.loads(sys.argv[1]))
print(time.perf_counter() - T_START)
stop_spark(spark)
