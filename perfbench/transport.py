"""Counting wrapper over the program's mock REST transport.

The mock counts requests only in the process that calls it, so the
pages fetched inside executor tasks (the per-playlist ``mapInPandas``
fan-out) never reach the counter of the process that owns the session. This wrapper adds every
request and every 429 to Spark accumulators, which the executors send
back with their task results. It pickles with its accumulators, as the
fan-out requires.
"""

from __future__ import annotations


class CountingTransport:
    def __init__(self, inner, requests, throttled):
        self.inner = inner
        self.requests = requests
        self.throttled = throttled

    @classmethod
    def over(cls, spark, inner) -> "CountingTransport":
        sc = spark.sparkContext
        return cls(inner, sc.accumulator(0), sc.accumulator(0))

    def __call__(self, url: str, *args, **kwargs) -> dict:
        response = self.inner(url, *args, **kwargs)
        self.requests.add(1)
        if response.get("status") == 429:
            self.throttled.add(1)
        return response
