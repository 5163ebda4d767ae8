"""A bounded wait on a DataFrame Observation's metrics.

`Observation.get` blocks until the observed action posts its metrics, with
no timeout. Spark posts them when the action ends, so an action that ends
without posting (a plan shape that stops evaluating the observed
aggregates, a future Spark change) would block the caller for good.
`observed_value` waits a bounded time for the post and otherwise computes
the same number with the explicit aggregate action it saved.
"""

from __future__ import annotations

import logging
import time
from typing import Any, Callable

from pyspark.sql import Observation

log = logging.getLogger(__name__)

#: seconds to wait for metrics after the observed action has returned;
#: they normally arrive within milliseconds
OBSERVED_WAIT_S = 10.0


def observed_value(obs: Observation, name: str, fallback: Callable[[], Any]) -> Any:
    """Metric `name` of `obs`, whose action has already run; `fallback()`
    when the metrics are not posted within OBSERVED_WAIT_S."""
    posted = obs._jo.future()
    deadline = time.monotonic() + OBSERVED_WAIT_S
    pause = 0.001
    while not posted.isCompleted():
        if time.monotonic() >= deadline:
            log.warning("metric %r not posted after %.1f s; running the aggregate instead",
                        name, OBSERVED_WAIT_S)
            return fallback()
        time.sleep(pause)
        pause = min(2 * pause, 0.05)
    return obs.get[name]
